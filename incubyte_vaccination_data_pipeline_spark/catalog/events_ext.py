"""Time-series enrichment over ``events``: gap-filling on a daily
spine and last-touch attribution.

``events_gapfill`` is the resample/forward-fill operator every
time-series warehouse needs: build the dense per-user daily spine
(min..max active day), left-join the sparse daily aggregate, and
forward-fill missing days from the last observed value. Spark-first
shape: ``sequence()`` + ``explode`` generates the spine without a
driver loop, the daily aggregate and the spine join share the same
``(user_id, day)`` hash partitioning, and the fill is a single
``last(ignorenulls)`` running window — no self-join, no UDF.

``events_attribution_lasttouch`` attributes each purchase to the most
recent preceding click by the same user — the classic marketing /
conversion-credit query. One scan, one ``user_id`` shuffle: clicks and
purchases are tagged in-row and a strictly-preceding running window
(``rowsBetween(unboundedPreceding, -1)`` with ``ignorenulls``) carries
the last click id/ts forward, so no as-of self-join is needed.

Reference parity: the reference has no event-stream surface; these
extend the engine's events family (SURVEY.md §2.9 adjacency) the same
way the sessionization/funnel/retention queries do.

100 TB posture: both queries are single-scan with one keyed shuffle
(plus the spine explode, which is narrow per-user work). The spine
size is |users| x |active days| — output-bound, not input-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)
from incubyte_vaccination_data_pipeline_spark.shared_cache import shared
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_DEC = "decimal(18,2)"


def _daily_cents_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed builder (plan guards assert on this — a
    checkpointed frame's plan is an opaque LogicalRDD)."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"))


def shared_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(app, corpus) daily integer-cent revenue frame — the
    identical scan + (event_type, day) aggregate prefix five
    time-series queries repeated per run (ses, holt_linear,
    holt_winters, autocorrelation, changepoint_cusum). Checkpointed
    once per corpus (r15, VERDICT r14 item 5): the frame is |types| x
    |calendar days| rows (~150 at any data scale — the series length
    is bounded by days, not corpus rows), so the amortization is pure
    win and the pinned frame is negligible."""
    return shared(
        spark,
        sf_dir,
        "daily_cents",
        lambda: durable_checkpoint(_daily_cents_frame(spark, sf_dir), eager=False),
    )


@query(
    "events_gapfill",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id,
               CAST(UNNEST(generate_series(CAST(MIN(day) AS TIMESTAMP),
                                           CAST(MAX(day) AS TIMESTAMP),
                                           INTERVAL '1 day')) AS DATE) AS day
        FROM daily
        GROUP BY user_id
    )
    SELECT s.user_id,
           s.day,
           d.day_value,
           LAST_VALUE(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           d.day_value IS NULL AS is_gap
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily spine + forward fill (resample semantics).

    The spine is generated distributed (``sequence`` over each user's
    [min_day, max_day] then ``explode``) — never a driver-side date
    loop. The compact ``daily`` aggregate is lazily checkpointed so
    the spine branch and the fill join share one scan + one aggregate
    instead of recomputing the subtree per branch.
    """
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.sum(F.col("value").cast(_DEC)).cast("double").alias("day_value"))
    # daily feeds both the spine derivation and the fill join; without
    # a checkpoint Spark re-scans events and re-aggregates per branch
    # (no exchange reuse across self-join sides). The frame is compact
    # (|users| x |active days| rows), same policy as the dedup
    # signature checkpoints.
    daily = daily.localCheckpoint(eager=False)

    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day"),
        )
    )

    filled = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            "day_value",
            F.last("day_value", ignorenulls=True).over(filled).alias("filled_value"),
            F.col("day_value").isNull().alias("is_gap"),
        )
    )


@query(
    "events_attribution_lasttouch",
    oracle="""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'click' THEN event_id END AS click_tag,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts_tag
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    attributed AS (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(click_tag IGNORE NULLS) OVER w AS click_id,
               LAST_VALUE(click_ts_tag IGNORE NULLS) OVER w AS click_ts
        FROM tagged
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    )
    SELECT event_id AS purchase_id,
           user_id,
           ts AS purchase_ts,
           click_id,
           CAST(date_diff('second', click_ts, ts) AS BIGINT) AS gap_seconds
    FROM attributed
    WHERE event_type = 'purchase'
    """,
)
def events_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest
    strictly-preceding click of the same user.

    One ``user_id`` shuffle; the strictly-preceding frame
    (``rowsBetween(unboundedPreceding, -1)``) makes a same-row click
    impossible to self-attribute and keeps the whole query windowed —
    the as-of-join formulation would scan twice and shuffle twice.
    Tie-break ``(ts, event_id)`` is pinned so both engines order
    identically.
    """
    events = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_tag"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts_tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("click_tag", ignorenulls=True).over(w).alias("click_id"),
        F.last("click_ts_tag", ignorenulls=True).over(w).alias("click_ts"),
    )
    return attributed.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_id",
        (
            F.col("ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("gap_seconds"),
    )


@query(
    "incremental_watermark_ingest",
    oracle="""
    WITH wm AS (
        SELECT date_trunc('day', MAX(ts)) - INTERVAL '7 days' AS w,
               MAX(ts) AS new_watermark
        FROM events
    )
    SELECT e.event_type,
           COUNT(*) AS n_new_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(e.ts) AS min_new_ts,
           MAX(wm.new_watermark) AS new_watermark
    FROM events e, wm
    WHERE e.ts > wm.w
    GROUP BY e.event_type
    """,
)
def incremental_watermark_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-batch ingest: aggregate only the rows newer than
    the stored watermark and emit the advanced watermark for the next
    run. The watermark here is *derived* (max ts - 7 days) so both
    engines restate it; a production run reads it from a metadata
    table as a LITERAL, which pushes the ``ts >`` predicate into the
    parquet scan and prunes whole files via min/max stats — the
    derived form costs one extra max-only scan (column-pruned to
    ``ts``), which is the documented difference. The watermark frame
    is one row, broadcast; the main aggregate is one keyed shuffle.
    """
    events = read_table(spark, sf_dir, "events")
    wm = events.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("interval 7 days")).alias("w"),
        F.max("ts").alias("new_watermark"),
    )
    return (
        events.join(F.broadcast(wm))
        .filter(F.col("ts") > F.col("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
            F.min("ts").alias("min_new_ts"),
            F.max("new_watermark").alias("new_watermark"),
        )
    )


_Z_MIN_DAYS = 5
_Z_THRESHOLD = 2.0


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS day_cents
        FROM events
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT user_id, day, day_cents,
               COUNT(*) OVER w AS n,
               CAST(SUM(day_cents) OVER w AS BIGINT) AS s1,
               CAST(SUM(day_cents * day_cents) OVER w AS BIGINT) AS s2
        FROM daily
        WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, day, day_cents,
           CASE WHEN n >= {_Z_MIN_DAYS}
                     AND n * s2 > s1 * s1
                THEN round((day_cents - CAST(s1 AS DOUBLE) / n)
                           / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                                   * s1 / n) / (n - 1)), 4)
           END AS z,
           CASE WHEN n >= {_Z_MIN_DAYS}
                     AND n * s2 > s1 * s1
                THEN abs((day_cents - CAST(s1 AS DOUBLE) / n)
                         / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                                 * s1 / n) / (n - 1))) > {_Z_THRESHOLD}
                ELSE FALSE
           END AS is_anomaly
    FROM stats
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily z-score anomaly flags. Determinism: the daily
    value is exact integer cents, and the per-user moments (n, Σx,
    Σx²) are exact BIGINT aggregates — order-independent — so the
    final double z-score is the same IEEE expression over identical
    integers in both engines (the same trick as the PageRank /
    centroid queries: quantize first, float only at the very end).
    One scan, one (user, day) shuffle, one user window. Degenerate
    guards: fewer than {_Z_MIN_DAYS} days or zero variance → NULL z.
    """
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        (F.sum(F.col("value").cast(_DEC)) * 100).cast("bigint").alias("day_cents")
    )
    w = Window.partitionBy("user_id")
    stats = daily.select(
        "user_id",
        "day",
        "day_cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("day_cents").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("day_cents") * F.col("day_cents")).over(w).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("day_cents") - mean) / F.sqrt(var)
    ok = (F.col("n") >= _Z_MIN_DAYS) & (
        F.col("n") * F.col("s2") > F.col("s1") * F.col("s1")
    )
    return stats.select(
        "user_id",
        "day",
        "day_cents",
        F.when(ok, F.round(z, 4)).alias("z"),
        F.when(ok, F.abs(z) > _Z_THRESHOLD).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT COALESCE(prev_type, '_START') AS prev_type,
               event_type AS next_type,
               COUNT(*) AS n
        FROM ordered
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM trans
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the sequence-model prior / session-simulation input):
    P(next_type | prev_type) with a ``_START`` state for each user's
    first event. One scan, one ``user_id`` shuffle for the lag, one
    tiny |types|² aggregate; probabilities derive from exact integer
    counts so the rounded double agrees across engines."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = ordered.groupBy(
        F.coalesce("prev_type", F.lit("_START")).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev_type")),
            6,
        ).alias("p"),
    )


@query(
    "events_hypertable_rollup",
    oracle="""
    SELECT CAST(date_part('year', ts) AS BIGINT) AS y,
           CAST(date_part('month', ts) AS BIGINT) AS m,
           CAST(date_part('day', ts) AS BIGINT) AS d,
           CAST(GROUPING(date_part('year', ts)) * 4
                + GROUPING(date_part('month', ts)) * 2
                + GROUPING(date_part('day', ts)) AS BIGINT) AS lvl,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (date_part('year', ts), date_part('month', ts),
                     date_part('day', ts))
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style TIME-HIERARCHY rollup (the continuous-aggregate
    shape of TimescaleDB/Druid): one pass produces every grain of the
    day -> month -> year -> total lattice with a grouping-id level
    marker, decimal-exact sums so the grains are mutually consistent
    bit-for-bit (a float sum would let month totals drift from their
    days' sum across engines).

    Scale design: ROLLUP compiles to a single Expand + one
    map-side-combinable aggregate — one shuffle for all four grains.
    At warehouse scale the day grain is the one MATERIALIZED
    incrementally (per arriving time partition — the
    ``incremental_watermark_ingest`` pattern); month/year/total then
    aggregate the day TABLE (thousands of rows), never the raw
    events — this query states the full lattice the consumer reads,
    and its single-scan form is also the periodic backfill/verify
    pass such systems run."""
    events = read_table(spark, sf_dir, "events")
    y = F.year("ts").cast("bigint")
    m = F.month("ts").cast("bigint")
    d = F.dayofmonth("ts").cast("bigint")
    return (
        events.rollup(y.alias("y"), m.alias("m"), d.alias("d"))
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select("y", "m", "d", "lvl", "n_events", "sum_value")
    )


@query(
    "events_ses_smoothing",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    s AS (
        SELECT event_type,
               list(day ORDER BY day) AS days,
               list(CAST(cents AS DOUBLE) ORDER BY day) AS vals,
               list(cents ORDER BY day) AS raw
        FROM daily GROUP BY event_type
    ),
    x AS (
        SELECT event_type, days, vals, raw,
               unnest(range(1, len(days) + 1)) AS i
        FROM s
    )
    SELECT event_type, days[i] AS day, raw[i] AS cents,
           ROUND(list_reduce(vals[1:i],
                             (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ses
    FROM x
    """,
)
def events_ses_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (SES, alpha=0.2) of the daily revenue
    series per event type — the recursive time-series operator
    (level_t = a*v_t + (1-a)*level_{t-1}) that has NO window-function
    form because each output depends on the whole prefix. Spark-first
    shape: the recursion runs as an ``aggregate()`` lambda fold over
    the per-type sorted value array — JVM-side codegen, no Python and
    no driver loop — seeded with the first observation and folded in
    strictly ascending day order, so both engines execute the IDENTICAL
    IEEE-double op sequence (the oracle's ``list_reduce`` seeds and
    folds the same way) and the hash match is exact even before the
    6dp round. Daily values aggregate as integer cents (double money
    summation is merge-order-dependent; int64->double is exact here).

    Scale posture: series length is bounded by CALENDAR DAYS, not by
    corpus rows — the per-type arrays stay tiny at any data scale, so
    collect_list is safe; the per-day fold is O(days^2) on ~30-day
    series (trivial) and the only shuffles are the two keyed
    aggregations. For multi-year series the same fold runs over a
    year-bucketed nesting with carried seeds."""
    # shared per-corpus prefix (see shared_daily_cents): one scan +
    # one (event_type, day) aggregate serves all five series queries
    daily = shared_daily_cents(spark, sf_dir)
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("arr")
    )
    return series.select(
        "event_type",
        "arr",
        F.posexplode("arr").alias("p", "e"),
    ).select(
        "event_type",
        F.col("e.day").alias("day"),
        F.col("e.cents").alias("cents"),
        F.round(
            F.expr(
                "aggregate(slice(arr, 2, p),"
                " cast(get(arr, 0).cents as double),"
                " (acc, x) -> 0.2D * cast(x.cents as double) + 0.8D * acc)"
            ),
            6,
        ).alias("ses"),
    )


_MT_WINDOW_S = 7 * 86400  # attribution lookback, seconds


@query(
    "events_attribution_multitouch",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id,
               date_diff('second', TIMESTAMP '1970-01-01', ts) AS ts_s,
               event_type = 'click' AS is_click,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END AS cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    counted AS (
        SELECT *,
               SUM(CASE WHEN is_click THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts_s
                   RANGE BETWEEN {_MT_WINDOW_S} PRECEDING AND 1 PRECEDING
               ) AS n_clicks
        FROM tagged
    ),
    credited AS (
        SELECT *,
               CASE WHEN cents IS NOT NULL AND n_clicks > 0
                    THEN (cents * 1000000) // n_clicks END AS credit_each
        FROM counted
    ),
    rolled AS (
        SELECT event_id, user_id, is_click,
               CAST(SUM(CASE WHEN credit_each IS NOT NULL
                             THEN 1 ELSE 0 END) OVER w AS BIGINT)
                   AS n_purchases,
               CAST(SUM(credit_each) OVER w AS BIGINT) AS credit_microcents
        FROM credited
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts_s
            RANGE BETWEEN 1 FOLLOWING AND {_MT_WINDOW_S} FOLLOWING
        )
    )
    SELECT event_id AS click_id, user_id, n_purchases, credit_microcents
    FROM rolled
    WHERE is_click AND credit_microcents IS NOT NULL
    """,
)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits its value
    EQUALLY across every click by the same user in the preceding 7
    days; per click, the total credit received and the number of
    purchases crediting it. The naive formulation is a per-user
    (click x purchase) range self-join — double scan, double shuffle,
    and pair-explosion on heavy users. This runs it as TWO range-frame
    window passes over ONE ``user_id`` partitioning (exploiting the
    symmetry click∈[p-7d,p) ⇔ purchase∈(c,c+7d]): pass 1 counts each
    purchase's in-window clicks (backward frame), pass 2 sums each
    click's per-purchase credit (forward frame). Single scan, single
    shuffle, and Spark reuses one sort for both windows.

    Determinism: credit = floor(cents * 1e6 / n_clicks) micro-cents —
    exact integer arithmetic (a float split would accumulate
    engine-dependent rounding); the order key is epoch SECONDS on both
    engines, and every frame is RANGE-based, so intra-second tie order
    cannot change any sum. Same-second click/purchase pairs are
    excluded symmetrically (frames end at ±1s).

    100 TB posture: per-user work is frame-bounded (7-day windows),
    state is the running frame, and there is no pair materialization —
    the credit fan-out that makes multi-touch quadratic in join form
    is folded into the forward-frame sum."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        (F.col("event_type") == "click").alias("is_click"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("bigint"),
        ).alias("cents"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-_MT_WINDOW_S, -1)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(1, _MT_WINDOW_S)
    )
    counted = tagged.withColumn(
        "n_clicks", F.sum(F.when(F.col("is_click"), 1).otherwise(0)).over(back)
    )
    credited = counted.withColumn(
        "credit_each",
        F.when(
            F.col("cents").isNotNull() & (F.col("n_clicks") > 0),
            F.expr("(cents * 1000000) div n_clicks"),
        ),
    )
    return (
        credited.withColumn(
            "n_purchases",
            F.sum(
                F.when(F.col("credit_each").isNotNull(), 1).otherwise(0)
            ).over(fwd),
        )
        .withColumn("credit_microcents", F.sum("credit_each").over(fwd))
        .filter(F.col("is_click") & F.col("credit_microcents").isNotNull())
        .select("event_id", "user_id", "n_purchases", "credit_microcents")
        .withColumnRenamed("event_id", "click_id")
    )


@query(
    "events_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
        SELECT event_type, day, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    rec AS (
        SELECT event_type, rn, day, cents,
               CAST(cents AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
        FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.event_type, i.rn, i.day, i.cents,
               0.5 * CAST(i.cents AS DOUBLE) + 0.5 * (r.l + r.b),
               0.3 * ((0.5 * CAST(i.cents AS DOUBLE) + 0.5 * (r.l + r.b))
                      - r.l)
               + 0.7 * r.b
        FROM rec r JOIN idx i
          ON i.event_type = r.event_type AND i.rn = r.rn + 1
    )
    SELECT event_type, day, cents,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(l + b, 6) AS forecast_next
    FROM rec
    """,
)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the daily
    revenue series per event type — the 2-STATE recursive time-series
    operator (level + trend, alpha=0.5 / beta=0.3) that generalizes
    ``events_ses_smoothing``'s scalar fold: the accumulator is a
    STRUCT folded JVM-side by ``aggregate()`` over the per-type sorted
    array, seeded (l=first observation, b=0). The oracle restates the
    recursion with an INDEPENDENT algorithm — a recursive CTE stepping
    (event_type, rn) — because DuckDB's ``list_reduce`` mutates a
    struct accumulator FIELD-BY-FIELD (while computing field ``b``,
    ``acc.l`` already holds the new level — verified numerically), so
    a struct fold there silently computes a different recurrence. Both
    sides execute the same IEEE-double op sequence (the level
    expression is textually duplicated inside the trend update rather
    than bound to a local), and values hash-match exactly at 6dp.
    ``forecast_next`` = level + trend is the one-step-ahead forecast.

    Scale posture: identical to SES — series length is bounded by
    CALENDAR DAYS, not corpus rows, so the per-type arrays stay tiny
    at any data scale; two keyed aggregations are the only shuffles,
    and the per-day fold is O(days^2) on ~30-day series."""
    # shared per-corpus prefix (see shared_daily_cents): one scan +
    # one (event_type, day) aggregate serves all five series queries
    daily = shared_daily_cents(spark, sf_dir)
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("arr")
    )
    lnew = "(0.5D * cast(x.cents as double) + 0.5D * (acc.l + acc.b))"
    fold = F.expr(
        "aggregate(slice(arr, 2, p),"
        " named_struct('l', cast(get(arr, 0).cents as double), 'b', 0.0D),"
        f" (acc, x) -> named_struct('l', {lnew},"
        f" 'b', 0.3D * ({lnew} - acc.l) + 0.7D * acc.b))"
    )
    return series.select(
        "event_type",
        "arr",
        F.posexplode("arr").alias("p", "e"),
    ).select(
        "event_type",
        F.col("e.day").alias("day"),
        F.col("e.cents").alias("cents"),
        fold.alias("st"),
    ).select(
        "event_type",
        "day",
        "cents",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 6).alias("forecast_next"),
    )


_WF_WINDOW_S = 86400  # windowFunnel chain window, seconds


@query(
    "events_window_funnel",
    oracle=f"""
    WITH RECURSIVE f AS (
        SELECT user_id,
               date_diff('second', TIMESTAMP '1970-01-01', ts) AS ts_s,
               event_id,
               CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                    ELSE 2 END AS lvl
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    idx AS (
        SELECT user_id, ts_s, lvl,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts_s, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM f
    ),
    rec AS (
        SELECT user_id, rn, n,
               CASE WHEN lvl = 0 THEN ts_s ELSE -1 END AS t0,
               CAST(-1 AS BIGINT) AS t1, CAST(-1 AS BIGINT) AS t2
        FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.user_id, i.rn, i.n,
               CASE WHEN i.lvl = 0 THEN i.ts_s ELSE r.t0 END,
               CASE WHEN i.lvl = 1 AND r.t0 != -1
                         AND i.ts_s - r.t0 <= {_WF_WINDOW_S}
                    THEN r.t0 ELSE r.t1 END,
               CASE WHEN i.lvl = 2 AND r.t1 != -1
                         AND i.ts_s - r.t1 <= {_WF_WINDOW_S}
                    THEN r.t1 ELSE r.t2 END
        FROM rec r JOIN idx i
          ON i.user_id = r.user_id AND i.rn = r.rn + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_funnel_events,
           CAST(CASE WHEN t2 != -1 THEN 3 WHEN t1 != -1 THEN 2
                     WHEN t0 != -1 THEN 1 ELSE 0 END AS INT)
               AS funnel_level
    FROM rec WHERE rn = n
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest prefix
    of the view -> click -> purchase chain completed within a sliding
    24h window anchored at the chain's FIRST event — unlike
    ``events_funnel_conversion`` (which checks global ordering), steps
    must chain within the window, and a later view re-anchors the
    chain (the sequential-match state machine every product-analytics
    engine ships). The state is THREE timestamps (latest step-1
    anchor; the anchor carried to steps 2/3 while in-window), folded
    JVM-side by ``aggregate()`` over the per-user sorted event array
    with a named_struct accumulator; each event updates exactly one
    field from the PREVIOUS state, so fold and row-recursion agree.
    The oracle replays the state machine as a recursive CTE over
    (user, rn) — an independent algorithm (and the struct-fold-safe
    form for DuckDB, whose list_reduce mutates struct accumulators
    field-by-field; see events_holt_linear).

    Scale posture: one scan (funnel types pushed to the parquet
    filter), one user_id shuffle; per-user arrays are bounded by the
    user's funnel-event count (a production run over unbounded
    histories segments by (user, period) first — same fold, carried
    anchors). Output is one row per user."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    tagged = events.select(
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        "event_id",
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
        .alias("lvl"),
    )
    arrs = tagged.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts_s", "event_id", "lvl"))
        ).alias("arr")
    )
    m1 = "cast(-1 as bigint)"
    fold = F.expr(
        f"aggregate(arr, named_struct('t0', {m1}, 't1', {m1}, 't2', {m1}),"
        " (acc, x) -> named_struct("
        f"  't0', CASE WHEN x.lvl = 0 THEN x.ts_s ELSE acc.t0 END,"
        f"  't1', CASE WHEN x.lvl = 1 AND acc.t0 != -1"
        f"             AND x.ts_s - acc.t0 <= {_WF_WINDOW_S}"
        "        THEN acc.t0 ELSE acc.t1 END,"
        f"  't2', CASE WHEN x.lvl = 2 AND acc.t1 != -1"
        f"             AND x.ts_s - acc.t1 <= {_WF_WINDOW_S}"
        "        THEN acc.t1 ELSE acc.t2 END))"
    )
    return arrs.select(
        "user_id",
        F.size("arr").cast("bigint").alias("n_funnel_events"),
        fold.alias("st"),
    ).select(
        "user_id",
        "n_funnel_events",
        F.when(F.col("st.t2") != -1, 3)
        .when(F.col("st.t1") != -1, 2)
        .when(F.col("st.t0") != -1, 1)
        .otherwise(0)
        .cast("int")
        .alias("funnel_level"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    m AS (
        SELECT event_type, MAX(CASE WHEN r * 2 = n + (n % 2)
                                    THEN cents END) AS med_cents
        FROM med GROUP BY event_type
    ),
    dev AS (
        SELECT v.event_id, v.event_type, v.cents,
               m.med_cents, ABS(v.cents - m.med_cents) AS adev
        FROM v JOIN m USING (event_type)
    ),
    mad_r AS (
        SELECT event_type, adev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY adev, event_id) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, MAX(CASE WHEN r * 2 = n + (n % 2)
                                    THEN adev END) AS mad_cents
        FROM mad_r GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.cents, d.med_cents, mad.mad_cents
    FROM dev d JOIN mad USING (event_type)
    WHERE d.adev > 5 * mad.mad_cents
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via MEDIAN absolute deviation — the
    resistant sibling of ``events_anomaly_zscore`` (mean/stddev move
    with the outliers they hunt; median/MAD do not). Flags events with
    |value - median| > 5 * MAD per event type. Medians are RANK-BASED
    (the lower-middle element at row_number r where 2r = n + n%2, over
    an (value, event_id) total order) — pure integer selection, so the
    cross-engine interpolation hazard of continuous percentiles
    (``a + g*(b-a)`` vs ``(a+b)/2`` differ in IEEE) cannot arise;
    every emitted column is an exact integer.

    Scale: two windowed rank passes per event_type partition plus two
    broadcast joins of the per-type medians (one row per type). A
    100 TB run replaces the exact rank with approx_percentile for the
    center and keeps the identical deviation/flag algebra; the
    rank-based form here is what certifies that algebra."""
    events = read_table(spark, sf_dir, "events")
    v = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    v = v.localCheckpoint(eager=False)  # feeds median rank, dev, and output

    def rank_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        ranked = df.withColumn("r", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
        return ranked.groupBy("event_type").agg(
            F.max(
                F.when(F.col("r") * 2 == F.col("n") + F.col("n") % 2, F.col(col))
            ).alias(out)
        )

    m = rank_median(v, "cents", "med_cents")
    dev = v.join(F.broadcast(m), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    dev = dev.localCheckpoint(eager=False)  # feeds MAD rank and the filter
    mad = rank_median(dev, "adev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 5 * F.col("mad_cents"))
        .select("event_id", "event_type", "cents", "med_cents", "mad_cents")
    )


_ACF_MAX_LAG = 7


@query(
    "events_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    s AS (
        SELECT event_type, list(cents ORDER BY day) AS a,
               COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(cents * cents) AS BIGINT) AS tot2
        FROM daily GROUP BY event_type
    ),
    lags AS (
        SELECT event_type, a, n, tot, tot2,
               unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag
        FROM s
    ),
    m AS (
        SELECT event_type, a, n, tot, tot2, lag,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, n - lag + 1),
                                       i -> a[i] * a[i + lag])),
                    (x, y) -> x + y) AS BIGINT) AS lagsum,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        a[1:n - lag]), (x, y) -> x + y)
                    + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        a[lag + 1:n]), (x, y) -> x + y) AS BIGINT) AS headtail
        FROM lags
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           ROUND((CAST(lagsum AS DOUBLE)
                  - CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)
                    * CAST(headtail AS DOUBLE)
                  + CAST(n - lag AS DOUBLE)
                    * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(tot2 AS DOUBLE)
                    - CAST(n AS DOUBLE)
                      * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))), 6)
               AS acf
    FROM m
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{lags} autocorrelation of the daily revenue series per
    event type — the seasonality/periodicity detector (a weekly cycle
    shows as a lag-7 peak). ACF_k = sum_(t<=n-k)(y_t - m)(y_(t+k) - m)
    / sum(y_t - m)^2, expanded so every data-dependent moment is an
    EXACT BIGINT aggregate (lag products via zip of the sorted array
    with its k-shift, head/tail partial sums, total, sum of squares)
    and only the final combination runs in float — one fixed op
    sequence shared by both engines (the zscore/value-trend moment
    recipe), rounded at 6dp.

    Scale posture: the per-type series is CALENDAR-bounded, so the
    arrays are tiny at any corpus scale; one keyed shuffle builds the
    daily aggregate, a second the per-type arrays; the lag fan-out is
    {lags} rows per type. Lag products stay in bigint (1e14 per term,
    ~30 terms — far under overflow)."""
    # shared per-corpus prefix (see shared_daily_cents): one scan +
    # one (event_type, day) aggregate serves all five series queries
    daily = shared_daily_cents(spark, sf_dir)
    s = daily.groupBy("event_type").agg(
        F.expr("transform(sort_array(collect_list(struct(day, cents))),"
               " e -> e.cents)").alias("a"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("tot2"),
    )
    lags = s.select(
        "event_type", "a", "n", "tot", "tot2",
        F.explode(F.expr(f"sequence(1, {_ACF_MAX_LAG})")).alias("lag"),
    )
    mean = "(cast(tot as double) / cast(n as double))"
    lagsum = (
        "cast(aggregate(zip_with(slice(a, 1, n - lag),"
        " slice(a, lag + 1, n - lag), (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v) as double)"
    )
    head = ("cast(aggregate(slice(a, 1, n - lag), cast(0 as bigint),"
            " (acc, v) -> acc + v)"
            " + aggregate(slice(a, lag + 1, n - lag), cast(0 as bigint),"
            " (acc, v) -> acc + v) as double)")
    num = (f"({lagsum} - {mean} * {head}"
           f" + cast(n - lag as double) * {mean} * {mean})")
    den = f"(cast(tot2 as double) - cast(n as double) * {mean} * {mean})"
    return lags.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.expr(f"{num} / {den}"), 6).alias("acf"),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    s AS (
        SELECT event_type,
               list(day ORDER BY day) AS days,
               list(cents ORDER BY day) AS a,
               COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot
        FROM daily GROUP BY event_type
    ),
    x AS (
        SELECT event_type, days, a, n, tot,
               unnest(range(1, n + 1)) AS t
        FROM s
    ),
    dev AS (
        SELECT event_type, days, n, tot, t,
               CAST(n AS BIGINT)
               * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), a[1:t]),
                                  (x, y) -> x + y) AS BIGINT)
               - CAST(t AS BIGINT) * tot AS s_scaled
        FROM x
    ),
    best AS (
        SELECT event_type,
               MIN(struct_pack(negabs := -abs(s_scaled), t := t)) AS b
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.days[b.b.t] AS changepoint_day,
           CAST(b.b.t AS BIGINT) AS t_index,
           CAST(-b.b.negabs AS BIGINT) AS cusum_scaled,
           CAST(d.n AS BIGINT) AS n_days
    FROM (SELECT DISTINCT event_type, days, n FROM dev) d
    JOIN best b ON d.event_type = b.event_type
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily revenue series per
    event type: the day t maximizing |sum_(i<=t)(y_i - mean)| — the
    level-shift locator behind monitoring alerts. The statistic is
    EXACT INTEGER arithmetic end to end: S_t * n = n * prefix_t -
    t * total (cross-multiplied so the mean never divides), and the
    argmax is a struct-min on (-|S|, t) — explicit earliest-t
    tie-break, no float anywhere.

    Scale: per-type series are calendar-bounded; prefix sums fold over
    the sorted array per row (O(days^2) on ~30-day series); two keyed
    shuffles; O(types) output."""
    # shared per-corpus prefix (see shared_daily_cents): one scan +
    # one (event_type, day) aggregate serves all five series queries
    daily = shared_daily_cents(spark, sf_dir)
    s = daily.groupBy("event_type").agg(
        F.expr("transform(sort_array(collect_list(struct(day, cents))),"
               " e -> e.day)").alias("days"),
        F.expr("transform(sort_array(collect_list(struct(day, cents))),"
               " e -> e.cents)").alias("a"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    dev = s.select(
        "event_type", "days", "n", "tot",
        F.explode(F.expr("sequence(1, n)")).alias("t"),
        F.expr(
            "cast(n as bigint) * aggregate(slice(a, 1, t),"
            " cast(0 as bigint), (acc, v) -> acc + v)"
        ).alias("np"),
    ).select(
        "event_type", "days", "n", "t",
        (F.col("np") - F.col("t").cast("bigint") * F.col("tot")).alias(
            "s_scaled"
        ),
    )
    best = dev.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-F.abs(F.col("s_scaled"))).alias("negabs"),
                F.col("t").alias("t"),
            )
        ).alias("b"),
        F.first("days").alias("days"),
        F.first("n").alias("n"),
    )
    return best.select(
        "event_type",
        F.expr("get(days, b.t - 1)").alias("changepoint_day"),
        F.col("b.t").cast("bigint").alias("t_index"),
        (-F.col("b.negabs")).cast("bigint").alias("cusum_scaled"),
        F.col("n").cast("bigint").alias("n_days"),
    )


# --- as-of attribution with a tolerance ----------------------------------
#
# Same single-scan / single-shuffle shape as
# ``events_attribution_lasttouch``; the tolerance is a post-window
# null-out, not a join predicate, so the plan is unchanged.

_TOLERANCE_S = 600

_ASOF_TOL_ORACLE = f"""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'click' THEN event_id END AS click_tag,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts_tag
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    attributed AS (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(click_tag IGNORE NULLS) OVER w AS click_id_raw,
               LAST_VALUE(click_ts_tag IGNORE NULLS) OVER w AS click_ts
        FROM tagged
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    )
    SELECT event_id AS purchase_id,
           user_id,
           CASE WHEN date_diff('second', click_ts, ts) <= 600
                THEN click_id_raw END AS click_id,
           CASE WHEN date_diff('second', click_ts, ts) <= 600
                THEN CAST(date_diff('second', click_ts, ts) AS BIGINT)
           END AS gap_seconds,
           COALESCE(date_diff('second', click_ts, ts) <= 600,
                    FALSE) AS within_tolerance
    FROM attributed
    WHERE event_type = 'purchase'
"""


@query("events_asof_tolerance", _ASOF_TOL_ORACLE)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution bounded by a 600-second
    tolerance — stale clicks null out after the window, so the plan
    is identical to the unbounded version."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_tag"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts_tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    att = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("click_tag", ignorenulls=True).over(w).alias("click_id_raw"),
        F.last("click_ts_tag", ignorenulls=True).over(w).alias("click_ts"),
    )
    gap = F.col("ts").cast("long") - F.col("click_ts").cast("long")
    ok = gap <= _TOLERANCE_S
    return att.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(ok, F.col("click_id_raw")).alias("click_id"),
        F.when(ok, gap).alias("gap_seconds"),
        F.coalesce(ok, F.lit(False)).alias("within_tolerance"),
    )


# --- engagement ---------------------------------------------------------

_MAU_WINDOW = 30

_DAU_MAU_ORACLE = f"""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM active),
    covered AS (
        SELECT a.user_id, d.day
        FROM active a JOIN days d
          ON d.day >= a.day AND d.day < a.day + INTERVAL '30 days'
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day),
    mau AS (SELECT day, COUNT(DISTINCT user_id) AS mau FROM covered GROUP BY day)
    SELECT d.day,
           d.dau,
           m.mau,
           round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
    FROM dau d JOIN mau m ON d.day = m.day
"""


@query("events_dau_mau", _DAU_MAU_ORACLE)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU stickiness per active day.
    The trailing distinct count cannot ride a window frame (COUNT
    DISTINCT OVER RANGE is unsupported everywhere), so each (user,
    day) activity row is exploded into the ≤30 future days
    it keeps the user "monthly active" for — turning the sliding
    distinct into a plain keyed distinct-aggregate. Blow-up factor is
    the window length (bounded, documented), all shuffles keyed by
    day; the DuckDB oracle restates the same coverage with a range
    join."""
    events = read_table(spark, sf_dir, "events")
    active = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct().localCheckpoint(eager=False)
    days = active.select("day").distinct()
    covered = active.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), _MAU_WINDOW - 1),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    ).join(days, "day", "left_semi")
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    mau = covered.groupBy("day").agg(F.countDistinct("user_id").alias("mau"))
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )


# --- seasonality --------------------------------------------------------

_SEASONAL_ORACLE = """
    SELECT event_type,
           CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
"""


@query("events_seasonal_profile", _SEASONAL_ORACLE)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: event volume/value by (type, day-of-week,
    hour) — the load-shaping / anomaly-baseline input. Single scan,
    one keyed aggregate; DOW convention pinned to Sunday=0 on both
    engines (Spark ``dayofweek`` is 1-based Sunday=1, DuckDB
    ``EXTRACT(dow)`` is 0-based Sunday=0 — the Spark side subtracts
    one so the driver compare sees identical codes)."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# --- path analysis + bot screening ---------------------------------------

_PATH_TOP = 20


_EVENTS_TOP_PATHS_ORACLE = f"""
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t1,
               LEAD(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t1 || '>' || t2 AS path,
           COUNT(*) AS n_occurrences
    FROM o WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, path
    LIMIT {_PATH_TOP}
    """


@query("events_top_paths", _EVENTS_TOP_PATHS_ORACLE)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user paths (sequential pattern mining, the n-gram
    extension of ``events_markov_transitions``'s 1-step matrix): every
    consecutive event-type triple per user, counted corpus-wide —
    the "what do users do next" path-analysis staple. One user_id
    shuffle (the LEAD window), one map-side-combinable count, top-k
    via TakeOrderedAndProject; ordering pinned by (ts, event_id) so
    intra-second ties cannot reorder paths between engines.

    Scale: paths are generated in-row from the window (no explode, no
    self-join); the count's key domain is |event_types|^3 — tiny."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return (
        o.select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(_PATH_TOP)
    )


_EVENTS_BOT_SIGNALS_ORACLE = """
    WITH o AS (
        SELECT user_id, event_type,
               date_diff('second', TIMESTAMP '1970-01-01', ts) AS ts_s,
               date_diff('second', TIMESTAMP '1970-01-01', ts)
               - LAG(date_diff('second', TIMESTAMP '1970-01-01', ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS iat
        FROM events
    ),
    g AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               MAX(ts_s) - MIN(ts_s) AS span_s,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(SUM(iat) AS BIGINT) AS iat_sum,
               CAST(SUM(iat * iat) AS BIGINT) AS iat_sum2,
               COUNT(iat) AS n_iat
        FROM o GROUP BY user_id
    )
    SELECT user_id, n_events, span_s, n_types,
           ROUND(CAST(n_events AS DOUBLE) * 3600.0
                 / CAST(span_s + 1 AS DOUBLE), 6) AS events_per_hour,
           CAST(n_iat * iat_sum2 - iat_sum * iat_sum AS BIGINT)
               AS iat_var_n2,
           CAST((CASE WHEN CAST(n_events AS DOUBLE) * 3600.0
                           / CAST(span_s + 1 AS DOUBLE) > 10.0
                      THEN 1 ELSE 0 END)
                + (CASE WHEN n_types = 1 AND n_events >= 10
                        THEN 1 ELSE 0 END)
                + (CASE WHEN n_iat >= 10
                             AND n_iat * iat_sum2 - iat_sum * iat_sum
                                 < 3600 * n_iat * n_iat
                        THEN 1 ELSE 0 END) AS INT) AS rule_hits
    FROM g WHERE n_iat >= 1
    """


@query("events_bot_signals", _EVENTS_BOT_SIGNALS_ORACLE)
def events_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user automation/bot signal profile — the trust-and-safety
    screen a production event pipeline runs before analytics trust the
    traffic: event rate (events/hour over the active span), behavioral
    diversity (distinct event types), and inter-arrival-time variance
    (human traffic is bursty; automation is metronomic). Each signal
    is emitted for EVERY user alongside a rule-hit count (rate > 10/h,
    single-type high volume, low-variance cadence), so the consumer
    sets its own threshold. The IAT variance is emitted in EXACT
    integer form (n^2 * var = n * sum(d^2) - (sum d)^2 over the
    lag-window differences): a 6dp-rounded double at ~1e9 magnitude
    exceeds double significand precision, so engine round()
    implementations disagree in the last ulp — the integer form is
    hash-exact and the low-variance rule compares integers
    (var_n2 < 3600 * n^2). The span denominator is span+1 so
    single-burst users cannot divide by zero.

    Scale: one scan, one user_id shuffle shared by the lag window and
    the per-user aggregate (same partitioning), O(users) output."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_s"),
        (
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("iat"),
    )
    g = o.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_s") - F.min("ts_s")).alias("span_s"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum("iat").cast("bigint").alias("iat_sum"),
        F.sum(F.col("iat") * F.col("iat")).cast("bigint").alias("iat_sum2"),
        F.count("iat").alias("n_iat"),
    ).filter(F.col("n_iat") >= 1)
    eph = "cast(n_events as double) * 3600.0D / cast(span_s + 1 as double)"
    # variance stays INTEGER: n^2 * var = n * sum(d^2) - (sum d)^2 — a
    # rounded 6dp double at ~1e9 magnitude needs more significant
    # digits than a double carries, so the engines' round()
    # implementations disagree in the last ulp (found by the strict
    # driver-style compare); the integer form is hash-exact and the
    # low-variance rule restates as var_n2 < 3600 * n^2
    var_n2 = "n_iat * iat_sum2 - iat_sum * iat_sum"
    return g.select(
        "user_id",
        "n_events",
        "span_s",
        "n_types",
        F.round(F.expr(eph), 6).alias("events_per_hour"),
        F.expr(f"cast({var_n2} as bigint)").alias("iat_var_n2"),
        F.expr(
            f"cast((case when {eph} > 10.0D then 1 else 0 end)"
            " + (case when n_types = 1 and n_events >= 10 then 1 else 0 end)"
            f" + (case when n_iat >= 10 and {var_n2} < 3600 * n_iat * n_iat"
            " then 1 else 0 end) as int)"
        ).alias("rule_hits"),
    )


# --- Holt-Winters -----------------------------------------------------------

#: Holt-Winters additive seasonal smoothing contract: weekly period,
#: alpha/beta/gamma pinned; seeds are the classic l0 = mean of the
#: first PERIOD observations, b0 = 0, s_i = y_i - l0.
HW_PERIOD = 7
HW_ALPHA = 0.3
HW_BETA = 0.2
HW_GAMMA = 0.4

# the new level, textually duplicated wherever the recurrence needs it
# (Spark lambdas cannot bind a local; duplicating keeps the IEEE-double
# op sequence identical on both engines — events_holt_linear precedent)
_HW_L = (
    f"({HW_ALPHA}D * (cast(x.cents as double)"
    f" - element_at(acc.s, acc.t % {HW_PERIOD} + 1))"
    f" + {1 - HW_ALPHA}D * (acc.l + acc.b))"
)
_HW_SEED_L = (
    f"cast(aggregate(slice(arr, 1, {HW_PERIOD}), cast(0 as bigint),"
    f" (a, x) -> a + x.cents) as double) / {HW_PERIOD}.0D"
)


_HW_ORACLE = f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
        SELECT event_type, day, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    seed AS (
        SELECT event_type,
               CAST(SUM(cents) AS DOUBLE) / {HW_PERIOD}.0 AS l0,
               list(CAST(cents AS DOUBLE) ORDER BY rn) AS ys
        FROM idx WHERE rn <= {HW_PERIOD}
        GROUP BY event_type HAVING COUNT(*) = {HW_PERIOD}
    ),
    rec AS (
        SELECT event_type, {HW_PERIOD} AS rn,
               CAST(NULL AS TIMESTAMP) AS day, CAST(NULL AS BIGINT) AS cents,
               l0 AS l, CAST(0.0 AS DOUBLE) AS b,
               list_transform(ys, y -> y - l0) AS s
        FROM seed
        UNION ALL
        SELECT i.event_type, i.rn, i.day, i.cents,
               {HW_ALPHA} * (CAST(i.cents AS DOUBLE)
                             - r.s[(i.rn - 1) % {HW_PERIOD} + 1])
               + {1 - HW_ALPHA} * (r.l + r.b),
               {HW_BETA} * (({HW_ALPHA} * (CAST(i.cents AS DOUBLE)
                                           - r.s[(i.rn - 1) % {HW_PERIOD} + 1])
                             + {1 - HW_ALPHA} * (r.l + r.b)) - r.l)
               + {1 - HW_BETA} * r.b,
               list_slice(r.s, 1, (i.rn - 1) % {HW_PERIOD})
               || [{HW_GAMMA} * (CAST(i.cents AS DOUBLE)
                                 - ({HW_ALPHA} * (CAST(i.cents AS DOUBLE)
                                     - r.s[(i.rn - 1) % {HW_PERIOD} + 1])
                                    + {1 - HW_ALPHA} * (r.l + r.b)))
                  + {1 - HW_GAMMA} * r.s[(i.rn - 1) % {HW_PERIOD} + 1]]
               || list_slice(r.s, (i.rn - 1) % {HW_PERIOD} + 2, {HW_PERIOD})
        FROM rec r JOIN idx i
          ON i.event_type = r.event_type AND i.rn = r.rn + 1
    )
    SELECT event_type, day, cents,
           ROUND(l, 6) AS level,
           ROUND(b, 6) AS trend,
           ROUND(s[(rn - 1) % {HW_PERIOD} + 1], 6) AS season,
           ROUND(l + b + s[rn % {HW_PERIOD} + 1], 6) AS forecast_next
    FROM rec WHERE rn > {HW_PERIOD}
"""


@query("events_holt_winters", _HW_ORACLE)
def events_holt_winters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL (triple exponential) smoothing of
    the daily revenue series per event type — completes the smoothing
    family (SES: 1 state; Holt: 2; this: 2 + a 7-slot weekly
    seasonal array), the operator behind seasonality-aware forecasting
    and deseasonalized anomaly baselines. The accumulator is a STRUCT
    (step counter, level, trend, seasonal list) folded JVM-side by
    ``aggregate()`` over the per-type day-sorted array; the seasonal
    slot for step t is t % period, and the slot update rebuilds the
    list by concat (no index-lambda, so the oracle can restate it with
    ``list_slice`` verbatim). Seeds: l0 = mean of the first period's
    observations, b0 = 0, s_i = y_i - l0. The oracle replays the
    recursion as a recursive CTE stepping (event_type, rn) with the
    seasonal list as a LIST column — same independent-algorithm
    strategy as ``events_holt_linear`` (DuckDB's list_reduce mutates
    struct accumulators field-by-field, so a fold there is unsafe).
    Rows emit from step period+1 on (types with <= period days have no
    seasonal state yet); ``forecast_next`` adds the NEXT step's
    seasonal slot, which this step never touches (consecutive steps
    hit different slots mod 7), so no expression duplication is
    needed to read it pre-update.

    Scale posture: identical to SES/Holt — series length is bounded by
    CALENDAR DAYS, not corpus rows; two keyed aggregations are the
    only shuffles and the per-day prefix fold is O(days^2) on ~30-day
    series."""
    # shared per-corpus prefix (events_ext.shared_daily_cents): one
    # scan + one (event_type, day) aggregate serves all five series
    # queries instead of being recomputed per run
    daily = shared_daily_cents(spark, sf_dir)
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("arr")
    )
    p = HW_PERIOD
    seed = (
        f"named_struct('t', {p}, 'l', {_HW_SEED_L}, 'b', 0.0D,"
        f" 's', transform(slice(arr, 1, {p}),"
        f" x -> cast(x.cents as double) - ({_HW_SEED_L})))"
    )
    s_new = (
        f"{HW_GAMMA}D * (cast(x.cents as double) - {_HW_L})"
        f" + {1 - HW_GAMMA}D * element_at(acc.s, acc.t % {p} + 1)"
    )
    fold = F.expr(
        f"aggregate(slice(arr, {p + 1}, pos - {p - 1}), {seed},"
        f" (acc, x) -> named_struct("
        f"'t', acc.t + 1,"
        f" 'l', {_HW_L},"
        f" 'b', {HW_BETA}D * ({_HW_L} - acc.l) + {1 - HW_BETA}D * acc.b,"
        f" 's', concat(slice(acc.s, 1, acc.t % {p}), array({s_new}),"
        f" slice(acc.s, acc.t % {p} + 2, {p - 1} - acc.t % {p}))))"
    )
    slot = F.pmod(F.col("pos"), F.lit(p)) + F.lit(1)
    next_slot = F.pmod(F.col("pos") + 1, F.lit(p)) + F.lit(1)
    return (
        series.select(
            "event_type", "arr", F.posexplode("arr").alias("pos", "e")
        )
        .filter(F.col("pos") >= p)
        .select(
            "event_type",
            F.col("e.day").alias("day"),
            F.col("e.cents").alias("cents"),
            fold.alias("st"),
            slot.alias("slot"),
            next_slot.alias("next_slot"),
        )
        .select(
            "event_type",
            "day",
            "cents",
            F.round(F.col("st.l"), 6).alias("level"),
            F.round(F.col("st.b"), 6).alias("trend"),
            F.round(F.element_at("st.s", F.col("slot")), 6).alias("season"),
            F.round(
                F.col("st.l")
                + F.col("st.b")
                + F.element_at("st.s", F.col("next_slot")),
                6,
            ).alias("forecast_next"),
        )
    )
