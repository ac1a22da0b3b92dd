"""Semantic pins for event-analytics queries (``catalog/events_ext``)
that the DuckDB oracle sweep (tests/test_oracle.py) cannot state:
hand-computed fixtures, the exact Holt-Winters recurrence on a periodic
series, and its plan shape."""

from __future__ import annotations

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import events_ext


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dau_mau_hand_computed(spark, seed_table, tmp_path):
    """Two users: u1 active day 1, u2 active days 1 and 20. Day-1
    DAU=2 MAU=2; day-20 DAU=1, MAU=2 (u1's day-1 activity still
    inside the trailing 30-day window)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 8), 1, "view", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9), 2, "view", 0.0, "{}"),
        (3, dt.datetime(2024, 1, 20, 9), 2, "view", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    fn = catalog.QUERIES["events_dau_mau"]
    out = {r["day"]: r for r in fn(spark, str(tmp_path)).collect()}
    d = dt.date
    assert (out[d(2024, 1, 1)]["dau"], out[d(2024, 1, 1)]["mau"]) == (2, 2)
    assert (out[d(2024, 1, 20)]["dau"], out[d(2024, 1, 20)]["mau"]) == (1, 2)
    assert out[d(2024, 1, 20)]["stickiness"] == 0.5
    assert len(out) == 2  # only ACTIVE days appear, no dense spine


def test_asof_tolerance_hand_computed(spark, seed_table, tmp_path):
    """A purchase 5 min after a click attributes; one 20 min after
    nulls out (tolerance 600 s) but keeps within_tolerance=False."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "click", 0.0, "{}"),
        (2, t(5), 1, "purchase", 0.0, "{}"),   # 300 s -> attributed
        (3, t(25), 1, "purchase", 0.0, "{}"),  # 1500 s -> nulled
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    fn = catalog.QUERIES["events_asof_tolerance"]
    out = {r["purchase_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert out[2]["click_id"] == 1 and out[2]["gap_seconds"] == 300
    assert out[2]["within_tolerance"]
    assert out[3]["click_id"] is None and out[3]["gap_seconds"] is None
    assert not out[3]["within_tolerance"]


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
