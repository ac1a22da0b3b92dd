"""Relational operator breadth: joins, aggregations, windows, set ops,
pivot/rollup/cube, scalar-function coverage.

The reference has no joins/aggregates beyond DISTINCT (SURVEY.md §2.3,
§2.4); these queries declare the engine's full relational surface over
the testdata star schema, each validated against a DuckDB oracle.
Determinism conventions as in ``vax.py`` (decimal money math, explicit
tie-breakers, portable function choices)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import AS_OF, query
from incubyte_vaccination_data_pipeline_spark.operators.dedup import md5_half_decode_sql
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 5000
      AND EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND date_part('year', o_orderdate) = 2001)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): high-balance customers with 2001 orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 2001
    )
    return (
        customer.filter(F.col("c_acctbal") > 5000)
        .join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND date_part('year', o_orderdate) = 2001)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no 2001 orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 2001
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS total_spend
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + agg: order counts including zero-order
    customers (COUNT over the null-extended side)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast(_DEC))
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "join_broadcast_supplier_nation",
    oracle="""
    SELECT s_suppkey, s_name, n_name AS nation, r_name AS region
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension snowflake via broadcast joins (no shuffle on the fact
    side — the physical plan must show BroadcastHashJoin)."""
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


# --------------------------------------------------------------------------
# aggregation breadth
# --------------------------------------------------------------------------


@query(
    "agg_stats_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_stats_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy + count / count_distinct / min / max / avg."""
    orders = read_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return orders.groupBy("o_orderpriority").agg(
        n.alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min(_dec("o_totalprice")).cast("double").alias("min_price"),
        F.max(_dec("o_totalprice")).cast("double").alias("max_price"),
        F.round(F.sum(_dec("o_totalprice")).cast("double") / n, 6).alias("avg_price"),
    )


@query(
    "agg_string_concat",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation (listagg equivalent)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        )
    )


@query(
    "rollup_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@query(
    "cube_segment_status",
    oracle="""
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def cube_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over a join (all grouping-set combinations)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide conditional aggregation) with a fixed value list."""
    orders = read_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    out = out.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )
    return out


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------


@query(
    "set_intersect_repeat_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 2000
    INTERSECT
    SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 2001
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both 2000 and 2001."""
    orders = read_table(spark, sf_dir, "orders")
    y2000 = orders.filter(F.year("o_orderdate") == 2000).select("o_custkey")
    y2001 = orders.filter(F.year("o_orderdate") == 2001).select("o_custkey")
    return y2000.intersect(y2001)


@query(
    "set_except_churned_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 2000
    EXCEPT
    SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 2001
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: 2000 customers who didn't return in 2001."""
    orders = read_table(spark, sf_dir, "orders")
    y2000 = orders.filter(F.year("o_orderdate") == 2000).select("o_custkey")
    y2001 = orders.filter(F.year("o_orderdate") == 2001).select("o_custkey")
    return y2000.subtract(y2001)  # EXCEPT (set semantics)


@query(
    "set_union_all_high_low",
    oracle="""
    SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 10000
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of disjoint slices with a provenance tag (U1 shape)."""
    orders = read_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", F.lit("high").alias("bucket")
    )
    lo = orders.filter(F.col("o_totalprice") < 10000).select(
        "o_orderkey", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


# --------------------------------------------------------------------------
# sorts / limits / windows
# --------------------------------------------------------------------------


@query(
    "sort_limit_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject) with deterministic ties."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "window_running_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
           date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
               CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    """,
)
def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window (running decimal sum) + lag analytics."""
    orders = read_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    w = Window.partitionBy("o_custkey").orderBy(od, F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        od.alias("orderdate"),
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.datediff(od, F.lag(od).over(w)).alias("days_since_prev"),
    )


@query(
    "window_rank_ntile",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           RANK() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC) AS price_dense_rank,
           NTILE(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey) AS quartile
    FROM orders
    """,
)
def window_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile ranking family."""
    orders = read_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    by_price_tb = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(by_price).alias("price_rank"),
        F.dense_rank().over(by_price).alias("price_dense_rank"),
        F.ntile(4).over(by_price_tb).alias("quartile"),
    )


# --------------------------------------------------------------------------
# scalar-function breadth
# --------------------------------------------------------------------------


@query(
    "scalar_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substr(p_type, 1, 5) AS type_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(p_name) AS name_trim,
           lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
           regexp_extract(p_type, '^([a-z]+)', 1) AS first_word,
           replace(p_name, ' ', '_') AS name_snake,
           CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END AS has_red,
           strpos(p_type, '_') AS underscore_pos,
           reverse(p_brand) AS brand_rev
    FROM part
    """,
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (F6-F9, F12 generalized)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("size_padded"),
        F.regexp_extract(F.col("p_type"), "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.col("p_name"), " ", "_").alias("name_snake"),
        F.when(F.col("p_name").like("%red%"), 1).otherwise(0).alias("has_red"),
        F.instr(F.col("p_type"), "_").alias("underscore_pos"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


@query(
    "scalar_math_conditional",
    oracle="""
    SELECT p_partkey,
           CAST(round(abs(CAST(p_retailprice AS DECIMAL(18,2)) - 1000), 2)
                AS DOUBLE) AS price_dev,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           p_size % 7 AS size_mod,
           round(sqrt(CAST(p_size AS DOUBLE)), 9) AS size_sqrt,
           greatest(p_size, 25) AS size_hi,
           least(p_size, 25) AS size_lo,
           coalesce(nullif(p_brand, 'BRAND_1'), 'OTHER') AS brand_grp,
           CASE WHEN p_size < 10 THEN 'S'
                WHEN p_size < 30 THEN 'M'
                ELSE 'L' END AS size_class
    FROM part
    """,
)
def scalar_math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + conditional function surface (decimal-safe rounding,
    correctly-rounded sqrt only — no libm-divergent pow/ln in oracles)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(F.abs(_dec("p_retailprice") - F.lit(1000).cast(_DEC)), 2)
        .cast("double")
        .alias("price_dev"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 9).alias("size_sqrt"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("size_hi"),
        F.least(F.col("p_size"), F.lit(25)).alias("size_lo"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("BRAND_1")), F.lit("OTHER")).alias(
            "brand_grp"
        ),
        F.when(F.col("p_size") < 10, "S")
        .when(F.col("p_size") < 30, "M")
        .otherwise("L")
        .alias("size_class"),
    )


@query(
    "scalar_date_functions",
    oracle=f"""
    SELECT o_orderkey,
           date_part('year', o_orderdate) AS yr,
           date_part('quarter', o_orderdate) AS qtr,
           date_part('month', o_orderdate) AS mon,
           date_part('day', o_orderdate) AS dom,
           isodow(o_orderdate) AS iso_dow,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus_30d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') AS days_ago
    FROM orders
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface. isodow == Spark weekday()+1
    (Monday=1); additions yield DATE on both sides."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mon"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
        F.date_add(d, 30).alias("plus_30d"),
        F.add_months(d, 2).alias("plus_2m"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        F.datediff(F.lit(AS_OF).cast("date"), d).cast("bigint").alias("days_ago"),
    )


# --------------------------------------------------------------------------
# SQL-text surface (SURVEY §2 S7/S8: the engine accepts ad-hoc ANSI SQL
# over registered views — Catalyst plans it identically to the
# DataFrame API)
# --------------------------------------------------------------------------


@query(
    "sql_adhoc_over_view",
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    GROUP BY o_orderstatus
    """,
)
def sql_adhoc_over_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8: the same SQL text the warehouse would run, executed by
    spark.sql over a registered temp view — no DataFrame code path."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("ivdp_orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM ivdp_orders_v
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        GROUP BY o_orderstatus
        """
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           ROUND(AVG(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 6) AS moving_avg_price
    FROM orders
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window (ROWS BETWEEN): 3-order moving average per
    customer — the frame shapes the reference's single window pattern
    never needed but any analytics surface must have."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), F.col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
        F.round(F.avg(_dec("o_totalprice")).over(w), 6)
        .cast("double")
        .alias("moving_avg_price"),
    )


@query(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE date_part('year', l_shipdate) = 1997
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-and-aggregate, the pushdown
    showcase — all three predicates and the 4-column projection reach
    the parquet scan; no shuffle beyond the single-row final agg."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year(F.col("l_shipdate").cast("date")) == 1997)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a pre-aggregate, then join back.
    Aggregating lineitem BEFORE the joins shrinks the join input to
    the qualifying orders (the 100 TB-friendly order; grouping after
    the 3-way join would shuffle the full fact table twice)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
        .filter(F.col("__qty") > F.lit(250).cast(_DEC))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
            F.col("__qty").cast("double").alias("total_qty"),
        )
    )


@query(
    "grouping_sets_nation_region",
    oracle="""
    SELECT n_name, r_name,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((n_name), (r_name), ())
    """,
)
def grouping_sets_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint subtotal lattices, unlike the
    rollup/cube queries) with GROUPING() indicator columns to tell a
    subtotal NULL from a data NULL."""
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.groupingSets(
        [["n_name"], ["r_name"], []], "n_name", "r_name"
    ).agg(
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(_dec("s_acctbal")).cast("double").alias("total_bal"),
    )


@query(
    "subquery_orders_above_custavg",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
          * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        > CAST(1.5 AS DECIMAL(2,1))
          * (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2)))
             FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
)
def subquery_orders_above_custavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery semantics (orders 1.5x above their
    customer's average) computed the Spark-idiomatic way: one window
    over the customer key instead of two correlated rescans. Decimal
    cross-multiplication avoids float-average tie-break divergence."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    price = _dec("o_totalprice")
    return (
        orders.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .withColumn("__sum", F.sum(price).over(w))
        .filter(
            price * F.col("__cnt")
            > F.lit(1.5).cast("decimal(2,1)") * F.col("__sum")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "join_full_outer_year_activity",
    oracle="""
    WITH y2000 AS (
        SELECT o_custkey, COUNT(*) AS n_2000
        FROM orders WHERE date_part('year', o_orderdate) = 2000
        GROUP BY o_custkey
    ),
    y2001 AS (
        SELECT o_custkey, COUNT(*) AS n_2001
        FROM orders WHERE date_part('year', o_orderdate) = 2001
        GROUP BY o_custkey
    )
    SELECT COALESCE(y2000.o_custkey, y2001.o_custkey) AS custkey,
           COALESCE(n_2000, 0) AS n_2000,
           COALESCE(n_2001, 0) AS n_2001
    FROM y2000 FULL OUTER JOIN y2001 ON y2000.o_custkey = y2001.o_custkey
    """,
)
def join_full_outer_year_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-customer order counts across two years,
    keeping customers active in either year (null-extended on the
    missing side)."""
    orders = read_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    y2000 = (
        orders.filter(yr == 2000)
        .groupBy(F.col("o_custkey").alias("k2000"))
        .agg(F.count(F.lit(1)).alias("n_2000"))
    )
    y2001 = (
        orders.filter(yr == 2001)
        .groupBy(F.col("o_custkey").alias("k2001"))
        .agg(F.count(F.lit(1)).alias("n_2001"))
    )
    return y2000.join(y2001, y2000.k2000 == y2001.k2001, "full_outer").select(
        F.coalesce("k2000", "k2001").alias("custkey"),
        F.coalesce("n_2000", F.lit(0)).alias("n_2000"),
        F.coalesce("n_2001", F.lit(0)).alias("n_2001"),
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name AS nation,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND date_part('year', o_orderdate) = 2000
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with local-supplier correlation
    (customer and supplier in the same nation). Scale posture: the
    region->nation dimension chain broadcasts onto BOTH fact-side
    probes (supplier and customer prune to ASIA before any shuffle),
    so the only shuffles are the two fact equi-joins."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.year(F.col("o_orderdate").cast("date")) == 2000
    )
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    asia_suppliers = supplier.join(
        F.broadcast(asia_nations), supplier.s_nationkey == asia_nations.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(
            asia_suppliers,
            (lineitem.l_suppkey == asia_suppliers.s_suppkey)
            & (customer.c_nationkey == asia_suppliers.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@query(
    "join_salted_hot_keys",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/skew.py): the probe side gets a
    random salt, the build side is replicated salt ways, and the join
    runs on (key, salt) so a pathological hot key spreads across salt
    reducers. Results are exactly the unsalted join (the oracle IS the
    plain join) — salting changes the shuffle layout, never the rows."""
    from incubyte_vaccination_data_pipeline_spark.operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    out = salted_join(orders, customer, on="o_custkey", salt=8)
    return out.select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "sample_hash_deterministic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '0f'
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 sample by content hash of the key — the
    reproducible alternative to TABLESAMPLE for experiment splits and
    data audits (same rows on every engine and every run; md5 hex is
    portable, unlike engine-native hash functions). The predicate is a
    scan-side filter, so the sample never materializes the full table."""
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    return orders.filter(bucket <= "0f").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS approx_within_5pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the single-pass,
    fixed-memory cardinality path for 100 TB (exact COUNT(DISTINCT)
    shuffles every distinct value; HLL sketches merge map-side in O(1)
    memory). Raw HLL estimates are engine-specific and cannot
    hash-match an oracle, so the value check emits the exact count plus
    a boolean error-bound assertion on the estimate (rsd=0.02 is the
    target relative standard deviation; 5%% is a safe hard bound the
    oracle states as literal TRUE). tests/test_oracle.py additionally
    pins <2%% observed error vs exact.

    Plan shape: both aggregates are duplicate-insensitive (HLL ignores
    repeats by construction), so the input dedups on
    (priority, custkey) FIRST — one map-side-combinable shuffle — and
    the exact count + sketch run over the deduped frame. The naive
    mixed exact+approx aggregate plans via expand (3x duplication,
    1.6s at sf0.1 vs 0.4s for this shape), and at 100 TB the dedup
    form is also what bounds the sketch-update work to one per
    distinct key."""
    orders = read_table(spark, sf_dir, "orders")
    deduped = orders.groupBy("o_orderpriority", "o_custkey").agg(F.lit(1))
    approx = F.approx_count_distinct("o_custkey", rsd=0.02)
    exact = F.count(F.lit(1))
    return deduped.groupBy("o_orderpriority").agg(
        exact.alias("exact_customers"),
        (
            F.abs(approx.cast("double") / exact.cast("double") - 1.0) <= 0.05
        ).alias("approx_within_5pct"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS p50,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 6) AS p90,
           ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99), 6) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (percentile_cont
    semantics on both engines; approx_percentile is the documented
    scale path when exactness can be traded for a single pass).

    r14: the three quantiles interpolate positionally from ONE sorted
    value array per group (``operators/quantiles``) instead of three
    ``percentile`` buffers — same O(group) state, flat array instead
    of a boxed value->count map, measured 0.81 s -> 0.29 s at sf0.1
    with bit-identical output at every SF."""
    from incubyte_vaccination_data_pipeline_spark.operators.quantiles import (
        quantile_cont,
        sorted_values,
    )

    orders = read_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("double")
    return (
        orders.groupBy("o_orderpriority")
        .agg(sorted_values(p).alias("__arr"))
        .select(
            "o_orderpriority",
            quantile_cont("__arr", 0.5).alias("p50"),
            quantile_cont("__arr", 0.9).alias("p90"),
            quantile_cont("__arr", 0.99).alias("p99"),
        )
    )


# --- Count-Min heavy hitters ----------------------------------------------
#
# Two hash rows (the two md5 digest halves, the MinHash trick from
# ``operators/dedup.py``) x 64 buckets, estimate = min of the two bucket
# counts. The sketch aggregate is map-side combinable (128 cells
# regardless of corpus size): the fixed-memory heavy-hitter shape that
# replaces a full groupBy when only the top keys matter.

_CMS_BUCKETS = 64
_TOP = 20


def _bucket_sql(key: str, half: int, instr_fn: str) -> str:
    start = 1 if half == 0 else 9
    return (
        f"({md5_half_decode_sql(f'md5(cast({key} as string))', start, instr_fn)}"
        f" % 64)"
    )


_CMS_ORACLE = f"""
    WITH cells AS (
        SELECT 0 AS row_id, {_bucket_sql("l_partkey", 0, "strpos")} AS bucket,
               COUNT(*) AS n
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 1, {_bucket_sql("l_partkey", 1, "strpos")}, COUNT(*)
        FROM lineitem GROUP BY 2
    ),
    truth AS (
        SELECT l_partkey, COUNT(*) AS true_n,
               {_bucket_sql("l_partkey", 0, "strpos")} AS b0,
               {_bucket_sql("l_partkey", 1, "strpos")} AS b1
        FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, true_n,
           CAST(LEAST(c0.n, c1.n) AS BIGINT) AS cm_estimate,
           LEAST(c0.n, c1.n) >= true_n AS bound_holds
    FROM truth
    JOIN cells c0 ON c0.row_id = 0 AND c0.bucket = truth.b0
    JOIN cells c1 ON c1.row_id = 1 AND c1.bucket = truth.b1
    ORDER BY cm_estimate DESC, l_partkey
    LIMIT 20
"""


@query("agg_heavy_hitters_cms", _CMS_ORACLE)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: 2×64-cell sketch from the
    two md5 digest halves; top-20 keys by estimate with the CM
    over-estimate guarantee as a checked column."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    # compute the digest ONCE in its own projection: each decoded half
    # is 8 positional terms, and Catalyst inlines the md5 call into
    # every term (16 md5 evaluations per row without this — the same
    # CSE trap operators/dedup.py documents); the 128-cell sketch is
    # additionally checkpointed because both per-row broadcast sides
    # consume it and self-join sides re-execute unshared subtrees
    def halves(df):
        # Spark side uses native conv(hex, 16, 10) — proven value-equal
        # to the oracle's positional strpos decode (DuckDB has no conv)
        # and measurably faster than 8 instr terms per half
        hashed = df.withColumn("h", F.md5(F.col("l_partkey").cast("string")))
        return hashed.select(
            "*",
            (
                F.expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")
                % _CMS_BUCKETS
            ).alias("b0"),
            (
                F.expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)")
                % _CMS_BUCKETS
            ).alias("b1"),
        ).drop("h")

    # ONE scan, ONE keyed shuffle: the per-key counts (needed anyway
    # for the true_n verification column) already determine every
    # sketch cell — bucket count = SUM(true_n) over the keys hashing
    # there — so the sketch folds over the checkpointed key aggregate
    # instead of re-scanning raw rows. (A production sketch-only pass
    # with no true_n column builds the 128 cells map-side from raw
    # rows and never groups by key at all; the bound column is what
    # forces the key aggregate here.)
    truth = halves(
        li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("true_n"))
    ).localCheckpoint(eager=False)
    c0 = truth.groupBy("b0").agg(F.sum("true_n").alias("n0"))
    c1 = truth.groupBy("b1").agg(F.sum("true_n").alias("n1"))
    est = (
        truth.join(F.broadcast(c0), "b0")
        .join(F.broadcast(c1), "b1")
        .select(
            "l_partkey",
            "true_n",
            F.least("n0", "n1").cast("bigint").alias("cm_estimate"),
            (F.least("n0", "n1") >= F.col("true_n")).alias("bound_holds"),
        )
    )
    return est.orderBy(F.desc("cm_estimate"), "l_partkey").limit(_TOP)


# --- interval-overlap sweep line ------------------------------------------

#: deterministic synthesized transit duration in days (the testdata
#: has no receipt date): 3..16 days from the quantity. floor() before
#: the int cast makes the derivation engine-portable by construction:
#: Spark truncates double->int while DuckDB rounds half-away, so a
#: bare CAST agrees only while quantities happen to be integral
#: (ADVICE r8).
_TRANSIT_DAYS_SQL = "(CAST(floor(l_quantity) AS INT) % 14) + 3"


#: the oracle counts unordered overlapping ROW pairs by the independent
#: O(n^2) keyed join; ROW_NUMBER assigns an arbitrary row identity but
#: the COUNT of unordered pairs is invariant to the assignment (and the
#: testdata violates the (orderkey, linenumber) PK, so ids cannot serve
#: as pair identity)
_JOIN_INTERVAL_OVERLAP_ORACLE = f"""
    WITH iv AS (
        SELECT l_suppkey AS sk,
               ROW_NUMBER() OVER () AS rid,
               CAST(l_shipdate AS DATE) AS s,
               CAST(l_shipdate AS DATE) + to_days({_TRANSIT_DAYS_SQL}) AS r
        FROM lineitem
    )
    SELECT a.sk AS suppkey, COUNT(*) AS n_overlapping_pairs
    FROM iv a JOIN iv b ON a.sk = b.sk
     AND a.rid < b.rid AND a.s <= b.r AND b.s <= a.r
    GROUP BY a.sk
    """


@query("join_interval_overlap", _JOIN_INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap pair COUNT via a distributed sweep line — the
    temporal/range primitive Spark lacks natively (concurrent
    sessions, co-active shipments, genomics-style range overlap): per
    supplier, how many unordered pairs of lineitems have overlapping
    transit intervals [shipdate, shipdate + 3..16 d].

    The scale insight: COUNTING overlaps needs no pair enumeration.
    With intervals sorted by start, a pair overlaps iff the
    later-starting interval begins before the earlier one ends, so
    per supplier ``pairs = C(n,2) - sum over starts of (#ends
    strictly before that start)`` — one union of (start, end) events,
    ONE keyed window (ends order after starts at equal time, which is
    exactly the inclusive-overlap boundary), one aggregate. O(n log n)
    per key where any enumeration path is output-bound (1.4M pairs at
    sf0.1): measured 0.6s vs 2.9s for the month-bin-blocked candidate
    join (which remains the right shape when the pairs themselves are
    needed — see the plan guard test). All arithmetic is exact
    integers; the oracle counts the same unordered row pairs by the
    INDEPENDENT algorithm (the O(n^2) keyed join), making this a
    cross-algorithm value check like the components oracle. Dates are
    compared as DATE in both engines (midnight timestamps in the
    testdata); suppliers with zero overlapping pairs are omitted
    (matching the oracle's inner-join shape)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("s"),
        F.expr(f"date_add(to_date(l_shipdate), {_TRANSIT_DAYS_SQL})").alias("r"),
    )
    return _sweep_overlap_counts(li, key_col="l_suppkey")


def _sweep_overlap_counts(intervals: DataFrame, key_col: str) -> DataFrame:
    """The sweep core over an (key, s, r) interval frame: one in-row
    event explode (ONE scan — a union of two selects would duplicate
    the subtree into two), one keyed window, one aggregate. Ends order
    AFTER starts at equal time, which is exactly the inclusive-overlap
    boundary (an interval ending the day another starts overlaps it).
    Emits (suppkey, n_overlapping_pairs) for keys with >= 1 pair."""
    events = intervals.select(
        F.col(key_col).alias("__k"),
        F.explode(
            F.expr(
                "array(struct(s as t, 0 as is_end), struct(r as t, 1 as is_end))"
            )
        ).alias("e"),
    ).select("__k", F.col("e.t").alias("t"), F.col("e.is_end").alias("is_end"))
    w = (
        Window.partitionBy("__k")
        .orderBy("t", "is_end")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = events.withColumn("ends_before", F.sum("is_end").over(w))
    agg = swept.groupBy("__k").agg(
        F.sum(F.when(F.col("is_end") == 0, F.col("ends_before"))).alias(
            "sum_ends_before"
        ),
        F.sum(F.when(F.col("is_end") == 0, 1).otherwise(0)).alias("n"),
    )
    return (
        agg.select(
            F.col("__k").alias("suppkey"),
            (F.col("n") * (F.col("n") - 1) / 2 - F.col("sum_ends_before"))
            .cast("bigint")
            .alias("n_overlapping_pairs"),
        )
        .filter(F.col("n_overlapping_pairs") > 0)
    )
