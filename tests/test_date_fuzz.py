"""Cross-engine fuzz of the multi-format date cascade.

The driver's date-cascade rows (`vax_date_cascade` / `vax_deadletter`)
are generated from ``o_orderdate``, so the hostile half of the input
space — malformed compacts, boundary years, float-forms, separator
soup — only meets the DuckDB restatement through the fixture matrix.
This suite renders seeded-random corpora of hostile date strings and
compares the Spark parser (`with_parsed_date`, and the dead letter
`validate_types` derives from it) against the SAME `_COMPACT_PARSE_SQL`
restatement the catalog oracle uses, value-for-value; and the
distinct-string parse (`with_parsed_dates`) against the per-row one.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pandas as pd
import pytest

from incubyte_vaccination_data_pipeline_spark.catalog.vax import _COMPACT_PARSE_SQL
from incubyte_vaccination_data_pipeline_spark.functions.dates import (
    with_parsed_date,
    with_parsed_dates,
)
from incubyte_vaccination_data_pipeline_spark.operators.validate import validate_types
from incubyte_vaccination_data_pipeline_spark.shared_cache import release

SEPS = ["/", "-"]
RENDERS = [
    lambda d: f"{d.month}/{d.day}/{d.year}",
    lambda d: f"{d.year}/{d.month}/{d.day}",
    lambda d: f"{d.month:02d}-{d.day:02d}-{d.year}",
    lambda d: f"{d.year}-{d.month}-{d.day}",
    lambda d: f"{d.month:02d}{d.day:02d}{d.year}",       # MMDDYYYY compact
    lambda d: f"{d.month}{d.day:02d}{d.year}",           # 7-digit when month < 10
    lambda d: f"{d.month:02d}{d.day:02d}{d.year % 100:02d}",  # 6-digit 2-dig year
    lambda d: f"{d.month:02d}{d.day:02d}{d.year}.0",     # float-form
]


def _corpus(seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows: list[tuple[int, str | None]] = []
    i = 0

    def add(raw):
        nonlocal i
        rows.append((i, raw))
        i += 1

    # valid dates through every renderer (incl. out-of-range years)
    for _ in range(120):
        y = rng.choice([rng.randint(1900, 2100), rng.randint(1800, 1899), 2101, 2022])
        m, d = rng.randint(1, 12), rng.randint(1, 28)
        date = dt.date(2000, 1, 1)
        try:
            date = dt.date(y, m, d)
        except ValueError:
            pass
        add(rng.choice(RENDERS)(date))
    # hostile compacts: random 6/7/8/9-digit strings
    for _ in range(120):
        n = rng.choice([6, 7, 8, 9])
        add("".join(rng.choice("0123456789") for _ in range(n)))
    # digit soup with separators (stays in the compact branch if >= 6 digits)
    for _ in range(60):
        parts = ["".join(rng.choice("0123456789") for _ in range(rng.randint(1, 4)))
                 for _ in range(3)]
        add(rng.choice(SEPS).join(parts))
    # month/day/year boundary probes
    for m in (0, 1, 12, 13, 20, 99):
        for d in (0, 1, 28, 29, 30, 31, 32):
            add(f"{m:02d}{d:02d}2021")
    for y in (1899, 1900, 2100, 2101):
        add(f"0215{y}")
    # leap-year probes (incl. century rules)
    for y in (1900, 2000, 2023, 2024, 2100):
        add(f"0229{y}")
    # year-field INT overflow (>9 digits after month/day): the -1
    # sentinel must fail the range check, not alias to 1999
    for raw in ("1231" + "9" * 12, "0101" + "1" * 16, "1231123456789012345"):
        add(raw)
    # empties and garbage
    for raw in ("", " ", "   ", None, "abc", "1/5/22", "not-a-date", "12345",
                "....", "//", "0xff", "  6152022  ", "2022", "99"):
        add(raw)
    return pd.DataFrame(rows, columns=["id", "raw"])


@pytest.mark.parametrize("seed", [11, 23])
def test_date_cascade_matches_oracle_on_hostile_corpus(spark, tmp_path, seed):
    pdf = _corpus(seed)
    path = str(tmp_path / f"dates{seed}.parquet")
    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute(f"COPY (SELECT * FROM pdf) TO '{path}' (FORMAT PARQUET)")

    sdf = spark.read.parquet(path)
    spark_rows = {
        r["id"]: (r["parsed"], r["err"])
        for r in with_parsed_date(sdf, "raw", "parsed", "err")
        .select("id", "parsed", "err")
        .collect()
    }
    duck = con.execute(
        f"WITH dirty AS (SELECT id, raw FROM '{path}'), {_COMPACT_PARSE_SQL}"
        f" SELECT id, raw, parsed, error FROM parsed"
    ).df()
    assert len(duck) == len(spark_rows)
    for _, row in duck.iterrows():
        got_date, got_err = spark_rows[row["id"]]
        want_date = None if pd.isna(row["parsed"]) else pd.Timestamp(row["parsed"]).date()
        want_err = None if pd.isna(row["error"]) else row["error"]
        assert got_date == want_date, (
            f"id={row['id']} raw={row['raw']!r}: date {got_date} != {want_date}"
        )
        assert got_err == want_err, (
            f"id={row['id']} raw={row['raw']!r}: err {got_err!r} != {want_err!r}"
        )
    con.close()


def test_dead_letter_frame_matches_error_rows(spark, tmp_path):
    pdf = _corpus(7)
    path = str(tmp_path / "dates_dl.parquet")
    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute(f"COPY (SELECT * FROM pdf) TO '{path}' (FORMAT PARQUET)")

    # the corpus strings as the mandatory date column of a source frame
    sdf = spark.read.parquet(path).withColumnRenamed("raw", "Open_Date")
    _, dead = validate_types(sdf)
    spark_dl = {
        r["id"]: r["Validation_Error"]
        for r in dead.select("id", "Validation_Error").collect()
    }
    release(dead)
    duck = con.execute(
        f"WITH dirty AS (SELECT id, raw FROM '{path}'), {_COMPACT_PARSE_SQL}"
        f" SELECT id, error FROM parsed WHERE error IS NOT NULL"
    ).df()
    want = {int(r["id"]): r["error"] for _, r in duck.iterrows()}
    assert spark_dl == want
    con.close()


@pytest.mark.parametrize("seed", [11, 23])
def test_distinct_parse_matches_per_row_parse(spark, seed):
    """``with_parsed_dates`` gives every row of every column the same
    (date, error) as ``with_parsed_date`` on that column, NULL, empty,
    whitespace-only and padded strings included, and keeps every row."""
    # the corpus holds None, "", " ", "   " and "  6152022  "; add
    # padded strings for the cascade branch too
    raws = list(_corpus(seed)["raw"]) + [" 1/5/22", "2022 ", "\t3/12/1998"]
    assert {None, "", " ", "   ", "  6152022  "} <= set(raws)
    # a second column: the same strings in another order, so one row
    # meets two different lookup entries
    other = raws[7:] + raws[:7]
    sdf = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(zip(raws, other))],
        "id int, a string, b string",
    )
    got = with_parsed_dates(sdf, ["a", "b"], "d_", "e_").collect()
    assert sorted(r["id"] for r in got) == list(range(len(raws)))
    for col in ("a", "b"):
        want = {
            r["id"]: (r["d"], r["e"])
            for r in with_parsed_date(sdf, col, "d", "e").select("id", "d", "e").collect()
        }
        for r in got:
            assert (r[f"d_{col}"], r[f"e_{col}"]) == want[r["id"]], (
                f"{col} id={r['id']} raw={r[col]!r}"
            )
    empty = [r for r in got if r["a"] is None or not r["a"].strip()]
    assert empty and all(r["e_a"] == "Empty date string" for r in empty)


def test_distinct_parse_shuffles_lookup_above_broadcast_threshold(spark):
    """A lookup larger than the broadcast threshold (a column of unique
    garbage strings) is joined back by a shuffle join, not forced into
    a broadcast, and every row still gets the per-row parse."""
    raws = list(_corpus(11)["raw"]) + [f"junk-{i:05d}" for i in range(300)]
    sdf = spark.createDataFrame(list(enumerate(raws)), "id int, a string")
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "1024")
    try:
        out = with_parsed_dates(sdf, ["a"], "d_", "e_")
        got = {r["id"]: (r["d_a"], r["e_a"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan, plan
    want = {
        r["id"]: (r["d"], r["e"])
        for r in with_parsed_date(sdf, "a", "d", "e").select("id", "d", "e").collect()
    }
    assert got == want
