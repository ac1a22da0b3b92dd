"""The benchmark's own logic, without Spark."""

from __future__ import annotations

import csv
import json
import os

import pytest

from perfbench import stats
from perfbench.etl_corpus import (
    COUNTRIES,
    CorpusSpec,
    expected_counts,
    write_corpus,
)
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0


# --- family grouping ---------------------------------------------------------


def test_family_grouping_rule():
    names = [f"q{i}_x" for i in range(1, 6)] + [f"text_{i}" for i in range(5)] + [
        "lonely_one", "pivot_a", "pivot_b", "pivot_c", "pivot_d",
    ]
    fam = stats.family_map(names)
    assert {fam[f"q{i}_x"] for i in range(1, 6)} == {"tpch"}  # q<N> pools first
    assert {fam[f"text_{i}"] for i in range(5)} == {"text"}
    assert fam["lonely_one"] == fam["pivot_a"] == "other"  # under 5 queries
    assert stats.family_map(names[:4])["q1_x"] == "other"


def test_family_grouping_on_the_catalog_names():
    # the committed catalog names, grouped by the rule, give exactly the
    # families the per-layer metrics are declared for
    from incubyte_vaccination_data_pipeline_spark import catalog

    fam = stats.family_map(catalog.QUERIES)
    assert set(fam.values()) == set(stats.FAMILIES)


# --- self time from nested spans --------------------------------------------


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        stats.Span(0, None, "query", 0.0, 10.0),
        stats.Span(1, 0, "build", 1.0, 4.0),
        stats.Span(2, 1, "analysis", 2.0, 3.0),  # nested in build only
        stats.Span(3, 0, "exec", 3.5, 8.0),  # overlaps build's tail
        stats.Span(4, None, "query", 20.0, 21.0),
    ]
    st = stats.self_times(spans)
    assert st["query"] == pytest.approx(10 - 7 + 1)  # children cover [1, 8]
    assert st["build"] == pytest.approx(3 - 1)
    assert st["analysis"] == pytest.approx(1)
    assert st["exec"] == pytest.approx(4.5)


def test_tracer_records_parents():
    from perfbench.trace import Tracer

    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert (inner.name, inner.parent) == ("inner", outer.id)
    assert outer.parent is None
    assert stats.self_times(tr.spans)["outer"] <= outer.duration


# --- ETL expected counts ------------------------------------------------------


def test_expected_counts_by_hand():
    # 2 rows per country, no offset: gids idx and 8 + idx. Residues put
    # the bad Open_Date on gid 1 (USA) and the empty name on gid 10 (AUS).
    spec = CorpusSpec(rows_per_country=2, offset=0, r_open=1, r_name=10, r_dob=0)
    exp = expected_counts(spec)
    assert (exp.rows_in, exp.dead, exp.dropped, exp.warehouse) == (16, 1, 1, 14)
    # both rows of a country share customer 0
    assert exp.view_rows == {f"VIEW_{c}": 1 for c in COUNTRIES}
    assert exp.views == sorted(f"VIEW_{c}" for c in COUNTRIES)


@pytest.mark.parametrize("seed", [0, 7, 12345])
def test_expected_counts_match_the_written_files(tmp_path, seed):
    spec = CorpusSpec.from_seed(seed, rows_per_country=3000)
    write_corpus(spec, str(tmp_path))
    dead = dropped = 0
    views = {}
    for country in COUNTRIES:
        with open(tmp_path / f"{country}.csv", newline="") as f:
            rows = list(csv.DictReader(f))
        assert len(rows) == spec.rows_per_country
        customers = set()
        for r in rows:
            open_dt = r.get("VaccinationDate", r.get("Date of Vaccination"))
            name = r.get("Name", r.get("Patient Name"))
            if open_dt == "2021-13-13":
                dead += 1
            elif name == "":
                dropped += 1
            else:
                customers.add(r.get("ID", r.get("Unique ID")))
        views[f"VIEW_{country}"] = len(customers)
    exp = expected_counts(spec)
    assert (exp.dead, exp.dropped, exp.view_rows) == (dead, dropped, views)
    assert exp.warehouse == spec.rows - dead - dropped
    assert 0 < dead and 0 < dropped  # the dirt is really planted


def test_seed_sets_the_corpus(tmp_path):
    a, b = CorpusSpec.from_seed(1, 100), CorpusSpec.from_seed(2, 100)
    assert a == CorpusSpec.from_seed(1, 100) and a != b
    write_corpus(a, str(tmp_path / "a1"))
    write_corpus(a, str(tmp_path / "a2"))
    for c in COUNTRIES:
        assert (tmp_path / "a1" / f"{c}.csv").read_bytes() == (
            tmp_path / "a2" / f"{c}.csv"
        ).read_bytes()


# --- the metric list agrees with BENCHMARK.json ----------------------------


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
