"""Date-cascade parity against the reference edge-case matrix
(FIXTURES.md 'Edge-case value matrix', date_parser.py semantics)."""

from __future__ import annotations

import datetime as dt

import pytest

from incubyte_vaccination_data_pipeline_spark.functions.dates import with_parsed_date

# (input, expected_date | None, expected_error_prefix | None)
CASES = [
    ("05/11/2022", dt.date(2022, 5, 11), None),
    ("12/13/1997", dt.date(1997, 12, 13), None),
    ("08/13/1982", dt.date(1982, 8, 13), None),
    ("12/01/1998", dt.date(1998, 12, 1), None),
    # ISO with 8 digits hits the compact branch -> month 20 -> invalid,
    # exactly like the reference (date_parser.py:41-77)
    ("2021-13-13", None, "Invalid month: 20"),
    ("2022-03-12", None, "Invalid month: 20"),
    # compact digit forms
    ("6152022", dt.date(2022, 6, 15), None),
    ("1052022", dt.date(2022, 1, 5), None),
    ("12282021", dt.date(2021, 12, 28), None),
    ("20220301.0", None, "Invalid month: 20"),  # float-form -> 8-digit -> month 20
    ("03012022.0", dt.date(2022, 3, 1), None),  # float-form, M/D/Y digit order
    # 6-digit compact: MM DD YY -> year += 2000
    ("031522", dt.date(2022, 3, 15), None),
    # separators don't save a >=6-digit string from the compact branch
    ("1/5/2022", None, "Invalid month: 15"),
    # month out of range in compact branch
    ("13282021", None, "Invalid month: 13"),
    # day out of range
    ("02302022", None, "Invalid day: 30 (maximum 28 days in month 2)"),
    ("06312022", None, "Invalid day: 31 (maximum 30 days in month 6)"),
    # year range
    ("01011899", None, "Invalid year: 1899"),
    ("01012101", None, "Invalid year: 2101"),
    # year-field INT overflow -> -1 sentinel fails the range check
    # (round-3 fix: the 2-digit-year +2000 adjustment previously
    # turned the sentinel into a VALID 1999)
    ("1231999999999999", None, "Invalid year: -1"),
    # leap handling: engine uses correct Gregorian (documented divergence
    # from the reference's year%4 rule for 1900/2100)
    ("02292024", dt.date(2024, 2, 29), None),
    ("02292023", None, "Invalid day: 29 (maximum 28 days in month 2)"),
    ("02291900", None, "Invalid day: 29"),
    # empties
    ("", None, "Empty date string"),
    ("   ", None, "Empty date string"),
    (None, None, "Empty date string"),
    # < 6 digits -> strptime cascade; 2-digit years fail the range check
    ("1/5/22", None, "Unable to parse date"),
    ("abc", None, "Unable to parse date"),
]


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [(i, c[0]) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(rows, "id int, raw string")
    out = with_parsed_date(df, "raw", "date", "error").select("id", "date", "error")
    return {r["id"]: (r["date"], r["error"]) for r in out.collect()}


@pytest.mark.parametrize("idx", range(len(CASES)))
def test_case(parsed, idx):
    raw, want_date, want_err = CASES[idx]
    got_date, got_err = parsed[idx]
    assert got_date == want_date, f"{raw!r}: date {got_date} != {want_date} (err={got_err})"
    if want_err is None:
        assert got_err is None, f"{raw!r}: unexpected error {got_err}"
    else:
        assert got_err is not None and got_err.startswith(want_err), (
            f"{raw!r}: error {got_err!r} !~ {want_err!r}"
        )


def test_reference_parity_on_fixture_rows(parsed):
    """The nine sample rows' date values (FIXTURES.md) parse as the
    reference parses them."""
    # covered via CASES; this asserts the note-worthy ones again explicitly
    by_raw = {CASES[i][0]: parsed[i] for i in range(len(CASES))}
    assert by_raw["6152022"][0] == dt.date(2022, 6, 15)
    assert by_raw["12/13/1997"][0] == dt.date(1997, 12, 13)
    assert by_raw["2021-13-13"][0] is None
