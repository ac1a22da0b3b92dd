"""Named query catalog: the driver-facing surface of the engine.

Every operator from SURVEY.md §2 (plus the engine's extension operators)
is exposed here as a named query ``(spark, sf_dir) -> DataFrame`` with a
matching DuckDB oracle SQL string. Conventions that keep the Spark
result and the oracle hash-comparable:

- **lowercase column aliases** on both sides (DuckDB lowercases
  unquoted identifiers; the driver matches columns by name);
- **decimal-exact aggregation** for money math: double sums are
  addition-order-dependent and would differ between engines, so sums
  run on ``DECIMAL`` (exact, order-independent) and only the final
  value is cast to double/rounded;
- **pinned dates** (``AS_OF``) instead of ``current_date()``;
- deterministic tie-breakers on every window/top-k.

The vaccination-domain queries (``vax_*``) re-create the reference's
flagship patterns (dedup-latest country view, validity filter, date
cascade, dead-letter split — SURVEY.md §2) over the driver's TPC-H-ish
testdata: an "intermediate record" is an order event (customer id,
consultation date := order date, country := nation name).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import AS_OF, query
from incubyte_vaccination_data_pipeline_spark.functions.dates import with_parsed_date
from incubyte_vaccination_data_pipeline_spark.functions.derive import age_years, staleness_flag
from incubyte_vaccination_data_pipeline_spark.operators.views import dedup_latest
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table
from incubyte_vaccination_data_pipeline_spark.shared_cache import shared

FLAGSHIP_COUNTRY = "NATION_7"


# --------------------------------------------------------------------------
# vaccination-surface queries (reference parity patterns)
# --------------------------------------------------------------------------

# shared record shape: one row per order, warehouse-like columns
_VAX_RECORDS_SQL = """
    SELECT CAST(c_custkey AS VARCHAR) AS cust_i,
           c_name AS name,
           CAST(o_orderdate AS DATE) AS open_dt,
           CAST(o_orderdate AS DATE) AS consul_dt,
           n_name AS country,
           make_date(CAST(1950 + c_custkey % 50 AS INT), 1, 1) AS dob,
           o_orderkey
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
"""


def _vax_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        # nation is tiny -> broadcast, no shuffle for the dim join
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").cast("string").alias("cust_i"),
            F.col("c_name").alias("name"),
            F.col("o_orderdate").cast("date").alias("open_dt"),
            F.col("o_orderdate").cast("date").alias("consul_dt"),
            F.col("n_name").alias("country"),
            F.make_date(
                (F.lit(1950) + F.col("c_custkey") % 50).cast("int"), F.lit(1), F.lit(1)
            ).alias("dob"),
            F.col("o_orderkey"),
        )
    )


_VAX_VIEW_PROJ = """
    cust_i, name, open_dt, consul_dt, country, dob,
    CAST(date_part('year', DATE '{as_of}') - date_part('year', dob) AS INT) AS age,
    COALESCE(date_diff('day', consul_dt, DATE '{as_of}') > 30, FALSE)
        AS days_since_consul_gt_30
""".format(as_of=AS_OF)


def _vax_view_frame(df: DataFrame) -> DataFrame:
    return df.select(
        "cust_i",
        "name",
        "open_dt",
        "consul_dt",
        "country",
        "dob",
        age_years(F.col("dob"), AS_OF).alias("age"),
        staleness_flag(F.col("consul_dt"), AS_OF).alias("days_since_consul_gt_30"),
    )


@query(
    "vax_country_view",
    oracle=f"""
    WITH recs AS ({_VAX_RECORDS_SQL}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cust_i ORDER BY consul_dt DESC, o_orderkey DESC
        ) AS rn
        FROM recs WHERE country = '{FLAGSHIP_COUNTRY}'
    )
    SELECT {_VAX_VIEW_PROJ} FROM ranked WHERE rn = 1
    """,
)
def vax_country_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's per-country view (W1 dedup-latest +
    F10 AGE + F11 staleness + P11 country filter), filter-first so the
    window shuffle only carries one country's rows."""
    recs = _vax_records(spark, sf_dir).filter(F.col("country") == FLAGSHIP_COUNTRY)
    deduped = dedup_latest(
        recs, key="cust_i", order_col="consul_dt",
        tie_breakers=[F.col("o_orderkey").desc()],
    )
    return _vax_view_frame(deduped)


@query(
    "vax_dedup_latest",
    oracle=f"""
    WITH recs AS ({_VAX_RECORDS_SQL}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cust_i ORDER BY consul_dt DESC, o_orderkey DESC
        ) AS rn
        FROM recs
    )
    SELECT {_VAX_VIEW_PROJ} FROM ranked WHERE rn = 1
    """,
)
def vax_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 over every country: latest consultation per customer."""
    deduped = dedup_latest(
        _vax_records(spark, sf_dir),
        key="cust_i",
        order_col="consul_dt",
        tie_breakers=[F.col("o_orderkey").desc()],
    )
    return _vax_view_frame(deduped)


@query(
    "vax_bucketed_roundtrip",
    oracle=f"""
    WITH recs AS ({_VAX_RECORDS_SQL}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cust_i ORDER BY consul_dt DESC, o_orderkey DESC
        ) AS rn
        FROM recs
    )
    SELECT {_VAX_VIEW_PROJ} FROM ranked WHERE rn = 1
    """,
)
def vax_bucketed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exercise of the bucketed warehouse sink
    (``sources/parquet_io.write_bucketed_warehouse``): write the
    intermediate records bucketed by ``cust_i`` (sorted by
    ``consul_dt`` within buckets), read the managed table back, and
    run dedup-latest over the re-read — the bucketed scan already
    satisfies the window's required hash partitioning, so the dedup
    runs shuffle-free (plan pinned in tests/test_plans.py). The
    roundtrip must be lossless: the oracle is the same dedup-latest
    restatement as ``vax_dedup_latest`` over the source tables. The
    table location is pinned under the repo's own warehouse dir — the
    session's spark.sql.warehouse.dir is a static conf derived from
    the harness's CWD, which this query must not write to."""
    import hashlib
    from pathlib import Path

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        write_bucketed_warehouse,
    )

    table = "vax_bucketed_rt_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    repo_root = Path(__file__).resolve().parents[2]
    write_bucketed_warehouse(
        _vax_records(spark, sf_dir),
        table,
        bucket_col="cust_i",
        n_buckets=8,
        sort_col="consul_dt",
        path=str(repo_root / "spark-warehouse" / table),
    )
    deduped = dedup_latest(
        spark.table(table),
        key="cust_i",
        order_col="consul_dt",
        tie_breakers=[F.col("o_orderkey").desc()],
    )
    return _vax_view_frame(deduped)


@query(
    "vax_distinct_countries",
    oracle="""
    SELECT DISTINCT n_name AS country
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def vax_distinct_countries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the DISTINCT driving per-country view fan-out."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("country"))
        .distinct()
    )


@query(
    "vax_valid_filter",
    oracle="""
    WITH recs AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS cust_i,
               NULLIF(o_orderpriority, '1-URGENT') AS name,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(o_orderdate AS DATE) END AS open_dt,
               o_orderstatus AS flag
        FROM orders
    )
    SELECT cust_i, name, open_dt, flag FROM recs
    WHERE open_dt IS NOT NULL
      AND name IS NOT NULL AND name <> ''
      AND cust_i IS NOT NULL AND cust_i <> ''
    """,
)
def vax_valid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: mandatory-field validity filter (nulls injected
    deterministically since the synthetic table is fully populated)."""
    orders = read_table(spark, sf_dir, "orders")
    recs = orders.select(
        F.col("o_orderkey").cast("string").alias("cust_i"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("name"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("date"))
        .otherwise(F.col("o_orderdate").cast("date"))
        .alias("open_dt"),
        F.col("o_orderstatus").alias("flag"),
    )
    return recs.filter(
        F.col("open_dt").isNotNull()
        & F.col("name").isNotNull()
        & (F.col("name") != "")
        & F.col("cust_i").isNotNull()
        & (F.col("cust_i") != "")
    )


# ---- date cascade over generated dirty strings ---------------------------
# Six deterministic string shapes per order row; every non-empty shape has
# >= 6 digits, so both engines exercise the compact-digit branch
# (the reference's dominant path — see functions/dates.py).
_DIRTY_DATES_SQL = """
    SELECT o_orderkey AS id,
           CASE o_orderkey % 6
             WHEN 0 THEN strftime(CAST(o_orderdate AS DATE), '%m/%d/%Y')
             WHEN 1 THEN printf('%d%02d%04d',
                                CAST(date_part('month', o_orderdate) AS INT),
                                CAST(date_part('day', o_orderdate) AS INT),
                                CAST(date_part('year', o_orderdate) AS INT))
             WHEN 2 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             WHEN 3 THEN printf('%02d%02d%04d',
                                CAST(date_part('month', o_orderdate) AS INT),
                                CAST(date_part('day', o_orderdate) AS INT),
                                CAST(date_part('year', o_orderdate) AS INT))
             WHEN 4 THEN strftime(CAST(o_orderdate AS DATE), '%d-%m-%Y')
             ELSE ''
           END AS raw
    FROM orders
"""

# DuckDB re-implementation of the FULL cascade (date_parser.py:41-77
# semantics with correct Gregorian leap rule; engine divergences
# documented in functions/dates.py):
# - float-form strip ('X.Y' digits keep the integer part, the pandas
#   float-render artifact the reference handles);
# - compact-digit branch for >= 6 digits (positional M/D/Y fields,
#   2-digit year += 2000, range checks, real month lengths);
# - < 6 digits: the strptime cascade can never succeed (every format
#   needs a 4-digit year plus month and day digits, and there are no
#   2-digit-year formats), so non-empty short strings always carry the
#   reference's "Unable to parse date '<cleaned>'" error;
# - >9-digit year fields overflow INT to NULL on both engines ->
#   coalesce to the -1 sentinel so they fail the range check exactly
#   like the Spark side.
# Cross-engine agreement on hostile inputs is fuzzed in
# tests/test_date_fuzz.py over this same SQL.
_COMPACT_PARSE_SQL = """
    parts AS (
        SELECT id, raw,
               CASE WHEN regexp_matches(trim(raw), '^[0-9]+\\.[0-9]+$')
                    THEN regexp_extract(trim(raw), '^([0-9]+)\\.', 1)
                    ELSE trim(raw) END AS s
        FROM dirty
    ),
    parts2 AS (
        SELECT id, raw, s,
               regexp_replace(s, '[^0-9]', '', 'g') AS digits,
               regexp_replace(s, '[^0-9/-]', '', 'g') AS cleaned
        FROM parts
    ),
    fields AS (
        SELECT id, raw, s, digits, cleaned, length(digits) AS nd,
            CASE WHEN length(digits) = 7 THEN TRY_CAST(substr(digits, 1, 1) AS INT)
                 ELSE TRY_CAST(substr(digits, 1, 2) AS INT) END AS m,
            CASE WHEN length(digits) = 7 THEN TRY_CAST(substr(digits, 2, 2) AS INT)
                 ELSE TRY_CAST(substr(digits, 3, 2) AS INT) END AS dd,
            COALESCE(
                CASE WHEN length(digits) = 7 THEN TRY_CAST(substr(digits, 4, 4) AS INT)
                     ELSE TRY_CAST(substr(digits, 5, 16) AS INT) END,
                -1) AS yraw
        FROM parts2
    ),
    adj AS (
        SELECT *, CASE WHEN yraw < 100 AND yraw >= 0 THEN yraw + 2000
                       ELSE yraw END AS y
        FROM fields
    ),
    parsed AS (
        SELECT id, raw, nd, m, dd, y,
            CASE WHEN s IS NULL OR s = '' THEN NULL
                 WHEN nd >= 6 AND m BETWEEN 1 AND 12 AND dd >= 1
                      AND y BETWEEN 1900 AND 2100
                 THEN TRY_CAST(printf('%04d-%02d-%02d', y, m, dd) AS DATE)
            END AS parsed,
            CASE WHEN s IS NULL OR s = '' THEN 'Empty date string'
                 WHEN nd >= 6 THEN
                   CASE WHEN m < 1 OR m > 12
                        THEN printf('Invalid month: %d (must be between 1 and 12)', m)
                        WHEN dd < 1
                        THEN printf('Invalid day: %d (must be greater than 0)', dd)
                        WHEN y < 1900 OR y > 2100
                        THEN printf('Invalid year: %d (must be between 1900 and 2100)', y)
                        WHEN TRY_CAST(printf('%04d-%02d-%02d', y, m, dd) AS DATE) IS NULL
                        THEN printf('Invalid day: %d (maximum %d days in month %d)',
                                    dd,
                                    CAST(date_part('day', last_day(make_date(y, m, 1))) AS INT),
                                    m)
                   END
                 ELSE printf('Unable to parse date ''%s'': format not recognized',
                             cleaned)
            END AS error
        FROM adj
    )
"""


def _dirty_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    k = F.col("o_orderkey") % 6
    raw = (
        F.when(k == 0, F.date_format(d, "MM/dd/yyyy"))
        .when(
            k == 1,
            F.format_string("%d%02d%04d", F.month(d), F.dayofmonth(d), F.year(d)),
        )
        .when(k == 2, F.date_format(d, "yyyy-MM-dd"))
        .when(
            k == 3,
            F.format_string("%02d%02d%04d", F.month(d), F.dayofmonth(d), F.year(d)),
        )
        .when(k == 4, F.date_format(d, "dd-MM-yyyy"))
        .otherwise(F.lit(""))
    )
    from incubyte_vaccination_data_pipeline_spark.operators.partitioning import (
        fanout_repartition,
    )

    # the parse cascade downstream is ~100x the per-byte cost of the
    # scan; spread the compact (id, raw) rows over every core first
    return fanout_repartition(
        orders.select(F.col("o_orderkey").alias("id"), raw.alias("raw")), "id"
    )


@query(
    "vax_date_cascade",
    oracle=f"""
    WITH dirty AS ({_DIRTY_DATES_SQL}),
    {_COMPACT_PARSE_SQL}
    SELECT id, raw, parsed FROM parsed
    """,
)
def vax_date_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5: the multi-format cascade over generated dirty strings
    (valid M/D/Y shapes, 7/8-digit compacts, invalid ISO-as-compact,
    D-M-Y digit soup, empties)."""
    dirty = _dirty_dates(spark, sf_dir)
    return with_parsed_date(dirty, "raw", "parsed", "__err").select(
        "id", "raw", "parsed"
    )


@query(
    "vax_deadletter",
    oracle=f"""
    WITH dirty AS ({_DIRTY_DATES_SQL}),
    {_COMPACT_PARSE_SQL}
    SELECT id, raw, error AS validation_error, 'open_date' AS invalid_field
    FROM parsed WHERE error IS NOT NULL
    """,
)
def vax_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter split: rows whose mandatory date failed, annotated
    with the reference's reason text + field name (§1.4).

    Each call filters one parse of the dirty dates, persisted lazily
    (``MEMORY_AND_DISK``) and shared per (session, sf_dir): repeated
    invocations reuse one copy, and reading the persisted parse keeps
    the error renderer out of the scan predicate."""
    parsed = shared(
        spark,
        sf_dir,
        "dirty_dates_parsed",
        lambda: with_parsed_date(
            _dirty_dates(spark, sf_dir), "raw", "parsed", "validation_error"
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )
    return parsed.filter(F.col("validation_error").isNotNull()).select(
        "id", "raw", "validation_error", F.lit("open_date").alias("invalid_field")
    )


@query(
    "vax_synonym_coalesce",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS customer_id,
           'C_' || CAST(o_custkey AS VARCHAR) AS customer_name,
           COALESCE(NULLIF(o_orderpriority, '1-URGENT'),
                    'DR_' || o_orderstatus) AS dr_name,
           COALESCE(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                         ELSE 'ST_' || o_orderpriority END,
                    'S' || CAST(o_orderkey % 5 AS VARCHAR)) AS state,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS open_date,
           'AUS' AS country
    FROM orders
    """,
)
def vax_synonym_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3 through the driver gate: dialect columns (Australia
    spellings + Doctor/State synonym pairs with injected nulls) run
    through the real synonym_projection — coalesce order follows
    COLUMN_MAP insertion order, Country synthesized from filename."""
    from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import (
        synonym_projection,
    )

    orders = read_table(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderkey").cast("string").alias("Unique ID"),
        F.concat(F.lit("C_"), F.col("o_custkey").cast("string")).alias("Patient Name"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("Doctor Name"),
        F.concat(F.lit("DR_"), F.col("o_orderstatus")).alias("Doctor"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("ST_"), F.col("o_orderpriority")))
        .alias("State/Province"),
        F.concat(F.lit("S"), (F.col("o_orderkey") % 5).cast("string")).alias("State"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "Date of Vaccination"
        ),
    )
    return synonym_projection(src, filename="AUS dialect 1.csv").select(
        F.col("Customer_Id").alias("customer_id"),
        F.col("Customer_Name").alias("customer_name"),
        F.col("Dr_Name").alias("dr_name"),
        F.col("State").alias("state"),
        F.col("Open_Date").alias("open_date"),
        F.col("Country").alias("country"),
    )


# --------------------------------------------------------------------------
# relational breadth (engine capabilities over the star schema)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with decimal-exact sums.
    Catalyst runs this as partial+final HashAggregate with the filter
    and the 7-column projection pushed into the parquet scan."""
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC,
             l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10.
    Ordering happens on the exact decimal revenue (identical across
    engines) before the double projection."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate").cast("date") > F.lit("1996-03-15").cast("date"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(rev.alias("__rev"))
        .orderBy(F.col("__rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("__rev").cast("double").alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
    )


@query(
    "agg_revenue_by_nation",
    oracle="""
    SELECT n_name AS nation, r_name AS region,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped star join: fact-fact shuffle joins + broadcast dims.

    Round 14 (guide §2.3, aggregate before you shuffle): lineitem
    revenue is pre-aggregated per orderkey BEFORE the orders join, so
    the second fact shuffle (o_custkey) carries one compact row per
    ORDER instead of one per line item (~4x fewer rows at any scale)
    and the map side of the orderkey exchange partially combines.
    Exact equivalence: decimal sums are associative (no rounding until
    the final double cast), n_items = sum of per-order line counts,
    and the per-order partials join orders on the same key the raw
    rows did — identical results even under duplicate orderkeys, since
    a k-way key fan-out multiplies partial sums exactly like raw rows.
    The pre-aggregation's hash layout on l_orderkey is reused by the
    join (no extra exchange)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("__rev"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum("__rev").cast("double").alias("revenue"),
            F.sum("__n").cast("bigint").alias("n_items"),
        )
    )


@query(
    "window_topk_orders",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(o_orderdate AS DATE) AS orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, orderdate, rn
    FROM ranked WHERE rn <= 3
    """,
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the reference's only window pattern
    (row_number + filter) generalized to k > 1."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )
