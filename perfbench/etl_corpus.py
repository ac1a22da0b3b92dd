"""Seeded multi-dialect CSV corpus for the ``etl_pipeline`` workload, and
the exact counts the pipeline must produce from it.

The shape follows ``scripts/demo_pipeline_sf1.py``: eight country files
in the reference's three header dialects, dirt planted by row-id
arithmetic so every outcome is countable, not estimated:

- a bad ``Open_Date`` ("2021-13-13") on rows with ``gid % 53 == r_open``:
  dead-lettered (the only mandatory date);
- an empty ``Name`` on rows with ``gid % 97 == r_name``: dropped by the
  mandatory filter unless already dead-lettered;
- a bad DOB ("13/45/1970") on rows with ``gid % 59 == r_dob``: kept, DOB
  nulled, so no count moves;
- four consecutive row ids share a customer id, so the per-country
  dedup-latest views shrink each country to its distinct customers.

The seed picks the residues and a row-id offset; the row count and the
dirt rates are fixed, so the work per run does not depend on the seed.
This module is pure Python: it neither imports nor starts Spark.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from dataclasses import dataclass

COUNTRIES = ("IND", "USA", "AUS", "FRA", "GER", "JPN", "BRA", "CAN")
USA_STYLE = ("USA", "BRA")  # compact M[M]ddyyyy dates, no DOB column
AUS_STYLE = ("AUS", "CAN")  # Australia dialect headers

OPEN_MOD, NAME_MOD, DOB_MOD = 53, 97, 59
CUSTOMER_SPAN = 4  # consecutive row ids per customer within a country

HEADERS = {
    "usa": ["ID", "Name", "VaccinationType", "VaccinationDate", "Consultation Date",
            "Doctor Name", "State"],
    "aus": ["Unique ID", "Patient Name", "Vaccine Type", "Date of Birth",
            "Date of Vaccination", "Last Consulted Date", "Doctor", "State/Province"],
    "ind": ["ID", "Name", "DOB", "VaccinationType", "VaccinationDate",
            "Consultation Date", "Doctor Name", "State"],
}
VACCINES = ("XYZ", "ABC", "EFG", "LMN", "MVD")
STATES = ("SA", "TN", "WA", "NY", "QL")
_OPEN_BASE = _dt.date(2020, 1, 1)
_DOB_BASE = _dt.date(1950, 1, 1)


@dataclass(frozen=True)
class CorpusSpec:
    rows_per_country: int
    offset: int
    r_open: int
    r_name: int
    r_dob: int

    @classmethod
    def from_seed(cls, seed: int, rows_per_country: int) -> "CorpusSpec":
        rng = random.Random(seed)
        return cls(
            rows_per_country=rows_per_country,
            offset=rng.randrange(1_000_000),
            r_open=rng.randrange(OPEN_MOD),
            r_name=rng.randrange(NAME_MOD),
            r_dob=rng.randrange(DOB_MOD),
        )

    @property
    def rows(self) -> int:
        return self.rows_per_country * len(COUNTRIES)

    def gids(self, idx: int) -> range:
        """Global row ids of country ``idx``: ``(id + offset) * 8 + idx``."""
        n = len(COUNTRIES)
        start = self.offset * n + idx
        return range(start, start + self.rows_per_country * n, n)


def _dialect(country: str) -> str:
    if country in USA_STYLE:
        return "usa"
    if country in AUS_STYLE:
        return "aus"
    return "ind"


def customer_of(gid: int) -> int:
    return gid // (CUSTOMER_SPAN * len(COUNTRIES))


def _slash(d: _dt.date) -> str:
    return f"{d.month:02d}/{d.day:02d}/{d.year}"


def _compact(d: _dt.date) -> str:
    return f"{d.month}{d.day:02d}{d.year}"


def _row(spec: CorpusSpec, dialect: str, gid: int) -> str:
    open_dt = _OPEN_BASE + _dt.timedelta(days=gid % 1096)
    consult_dt = open_dt + _dt.timedelta(days=gid % 211)
    fmt = _compact if dialect == "usa" else _slash
    open_s = "2021-13-13" if gid % OPEN_MOD == spec.r_open else fmt(open_dt)
    consult_s = fmt(consult_dt)
    cust = str(customer_of(gid))
    name = "" if gid % NAME_MOD == spec.r_name else f"Cust_{cust}"
    vacc = VACCINES[gid % 5]
    doctor = f"Dr_{gid % 1000}"
    state = STATES[gid % 5]
    if dialect == "usa":
        return ",".join((cust, name, vacc, open_s, consult_s, doctor, state))
    dob = _DOB_BASE + _dt.timedelta(days=(gid * 7) % 18263)
    dob_s = "13/45/1970" if gid % DOB_MOD == spec.r_dob else _slash(dob)
    if dialect == "aus":
        return ",".join((cust, name, vacc, dob_s, open_s, consult_s, doctor, state))
    return ",".join((cust, name, dob_s, vacc, open_s, consult_s, doctor, state))


def write_corpus(spec: CorpusSpec, data_dir: str) -> int:
    """Write one ``<COUNTRY>.csv`` per country; returns the bytes written."""
    os.makedirs(data_dir, exist_ok=True)
    total = 0
    for idx, country in enumerate(COUNTRIES):
        dialect = _dialect(country)
        lines = [",".join(HEADERS[dialect])]
        lines.extend(_row(spec, dialect, g) for g in spec.gids(idx))
        text = "\n".join(lines) + "\n"
        path = os.path.join(data_dir, f"{country}.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        total += os.path.getsize(path)
    return total


@dataclass(frozen=True)
class Expected:
    rows_in: int
    dead: int
    dropped: int
    warehouse: int
    view_rows: dict[str, int]  # view name -> rows

    @property
    def views(self) -> list[str]:
        return sorted(self.view_rows)


def expected_counts(spec: CorpusSpec) -> Expected:
    """Exact pipeline outcome for ``spec``, from the planting arithmetic."""
    dead = dropped = 0
    view_rows = {}
    for idx, country in enumerate(COUNTRIES):
        customers = set()
        for gid in spec.gids(idx):
            if gid % OPEN_MOD == spec.r_open:
                dead += 1
            elif gid % NAME_MOD == spec.r_name:
                dropped += 1
            else:
                customers.add(customer_of(gid))
        view_rows[f"VIEW_{country}"] = len(customers)
    return Expected(
        rows_in=spec.rows,
        dead=dead,
        dropped=dropped,
        warehouse=spec.rows - dead - dropped,
        view_rows=view_rows,
    )
