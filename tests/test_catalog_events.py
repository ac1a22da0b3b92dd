"""Semantic pins for event-analytics queries (``catalog/events_ext``)
that the DuckDB oracle sweep (tests/test_oracle.py) cannot state:
hand-computed fixtures."""

from __future__ import annotations

from incubyte_vaccination_data_pipeline_spark import catalog


def test_dau_mau_hand_computed(spark, monkeypatch, tmp_path):
    """Two users: u1 active day 1, u2 active days 1 and 20. Day-1
    DAU=2 MAU=2; day-20 DAU=1, MAU=2 (u1's day-1 activity still
    inside the trailing 30-day window)."""
    import datetime as dt

    import incubyte_vaccination_data_pipeline_spark.sources.parquet_io as pio

    rows = [
        (1, dt.datetime(2024, 1, 1, 8), 1, "view", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9), 2, "view", 0.0, "{}"),
        (3, dt.datetime(2024, 1, 20, 9), 2, "view", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    monkeypatch.setitem(
        pio._READ_CACHE,
        (spark.sparkContext.applicationId, str(tmp_path), "events"),
        events,
    )
    fn = catalog.QUERIES["events_dau_mau"]
    out = {r["day"]: r for r in fn(spark, str(tmp_path)).collect()}
    d = dt.date
    assert (out[d(2024, 1, 1)]["dau"], out[d(2024, 1, 1)]["mau"]) == (2, 2)
    assert (out[d(2024, 1, 20)]["dau"], out[d(2024, 1, 20)]["mau"]) == (1, 2)
    assert out[d(2024, 1, 20)]["stickiness"] == 0.5
    assert len(out) == 2  # only ACTIVE days appear, no dense spine


def test_asof_tolerance_hand_computed(spark, monkeypatch, tmp_path):
    """A purchase 5 min after a click attributes; one 20 min after
    nulls out (tolerance 600 s) but keeps within_tolerance=False."""
    import datetime as dt

    import incubyte_vaccination_data_pipeline_spark.sources.parquet_io as pio

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
    monkeypatch.setitem(
        pio._READ_CACHE,
        (spark.sparkContext.applicationId, str(tmp_path), "events"),
        events,
    )
    fn = catalog.QUERIES["events_asof_tolerance"]
    out = {r["purchase_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert out[2]["click_id"] == 1 and out[2]["gap_seconds"] == 300
    assert out[2]["within_tolerance"]
    assert out[3]["click_id"] is None and out[3]["gap_seconds"] is None
    assert not out[3]["within_tolerance"]
