"""Multi-format date parsing as native Column expressions.

Behavioral parity with the reference's ``src/utils/date_parser.py:12-134``
(intshivam/incubyte-vaccination-data-pipeline), re-expressed as
chained native projections (:func:`with_parsed_date`) — no Python in
the hot path, so the cascade runs inside whole-stage codegen and scales
to 100 TB. Like the reference's parser it yields a date or a reason per
row; the clean rows and the dead letter are two filters over that one
parse (``operators/validate.validate_types``).

The parse is a pure function of one string, so the ETL path runs it
once per distinct string (:func:`with_parsed_dates`) and joins the
result back, the dictionary move of column stores: the ETL corpus has
about 5k distinct strings in 600k date cells. Parsing per row in a
projection over a union of per-file scans is also pushed into every
union branch by the optimizer (``PushProjectionThroughUnion``): one
compiled copy of the cascade per file per date column. A filter on the
error column should still read a persisted copy of the result: over
the per-row parse the filter would carry the error renderer into the
scan predicate (see :func:`with_parsed_date`), and over the joined
parse the persisted frame is what lets both sinks share one read of
the source.

Reference semantics implemented faithfully:

- empty/blank input -> error "Empty date string" (date_parser.py:27-28).
- float-form normalization: ``"20220301.0"`` -> ``"20220301"``
  (date_parser.py:33-37).
- **compact-digit branch** (date_parser.py:41-77): if the input contains
  >= 6 digits after stripping non-digits, it is parsed positionally —
  7 digits as M/DD/YYYY, otherwise MM/DD/ + rest-as-year — with 2-digit
  years mapped to 2000+yy and range checks month 1-12, day >= 1,
  year 1900-2100, day <= days-in-month. Validation failures raise the
  reference's "Invalid month/day/year" errors *without* falling through
  to the format cascade. This means e.g. ISO ``2021-13-13`` (and any
  8-digit ``yyyy-...`` string) fails with "Invalid month: 20" — the
  strptime cascade below is only reachable for inputs with < 6 digits,
  exactly as in the reference.
- **format cascade** (date_parser.py:85-128) for < 6-digit inputs, after
  stripping chars outside ``[0-9/-]``: formats tried in order
  M/d/yyyy, yyyy/M/d, d/M/yyyy, yyyy-M-d, M-d-yyyy, d-M-yyyy,
  yyyyMMdd, MMddyyyy, ddMMyyyy; first parse whose year is in
  [1900, 2100] wins.

Documented divergences (SURVEY.md §2.12, §7.3):

- correct Gregorian leap rule (the reference's ``year % 4`` bug accepts
  1900-02-29 / 2100-02-29; this engine rejects them).
- error *categories and field positions* are stable, but free-text
  detail of cascade failures is not byte-identical.
- SQL NULL input maps to "Empty date string" (pandas ``NaN`` stringifies
  to ``"nan"`` in the reference and fails later with "Unable to parse").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: strptime cascade (date_parser.py:85-100), java.time spellings.
CASCADE_FORMATS = [
    "M/d/yyyy",
    "yyyy/M/d",
    "d/M/yyyy",
    "yyyy-M-d",
    "M-d-yyyy",
    "d-M-yyyy",
    "yyyyMMdd",
    "MMddyyyy",
    "ddMMyyyy",
]


_PD_TEMPS = [
    "_pd_s", "_pd_digits", "_pd_cleaned", "_pd_empty", "_pd_nd",
    "_pd_m", "_pd_dd", "_pd_yraw", "_pd_y", "_pd_cd", "_pd_maxd",
    "_pd_cerr", "_pd_casc",
] + [f"_pd_c{i}" for i in range(len(CASCADE_FORMATS))]

#: the distinct-string lookup's columns (with_parsed_dates)
_KEY, _DATE, _ERR = "_pd_key", "_pd_date", "_pd_err"


def _parse_prefix(df, src_col: str):
    """Normalization/positional-field prefix of the cascade, as chained
    projections (``_pd_*`` temp columns)."""
    c = F.col(src_col)
    s = F.trim(c.cast("string"))
    out = df.withColumn(
        "_pd_s",
        F.when(s.rlike(r"^\d+\.\d+$"), F.regexp_extract(s, r"^(\d+)\.", 1)).otherwise(s),
    )
    ps = F.col("_pd_s")
    out = out.withColumns(
        {
            "_pd_digits": F.regexp_replace(ps, r"[^0-9]", ""),
            "_pd_cleaned": F.regexp_replace(ps, r"[^0-9/\-]", ""),
            "_pd_empty": ps.isNull() | (ps == ""),
        }
    )
    dg = F.col("_pd_digits")
    out = out.withColumn("_pd_nd", F.length(dg))
    nd = F.col("_pd_nd")
    out = out.withColumns(
        {
            # try_cast: these evaluate for EVERY row, so ''/overflow
            # must null instead of throwing under ANSI mode
            "_pd_m": F.when(nd == 7, F.substring(dg, 1, 1))
            .otherwise(F.substring(dg, 1, 2))
            .try_cast("int"),
            "_pd_dd": F.when(nd == 7, F.substring(dg, 2, 2))
            .otherwise(F.substring(dg, 3, 2))
            .try_cast("int"),
            # year := all remaining digits (date_parser.py:53); > 4
            # digits simply fails the range check, as in the reference
            "_pd_yraw": F.coalesce(
                F.when(nd == 7, F.substring(dg, 4, 4))
                .otherwise(F.substring(dg, 5, 16))
                .try_cast("int"),
                F.lit(-1),
            ),
        }
    )
    yraw = F.col("_pd_yraw")
    # > 9-digit years overflow the int cast to NULL; the -1 sentinel
    # above makes them fail as Invalid year, like the reference (whose
    # error text prints the full number where this prints -1). Guard the
    # 2-digit-year adjustment off the sentinel: -1 + 2000 = 1999 would
    # pass the range check and a 15-digit string would "parse"
    return out.withColumn(
        "_pd_y", F.when((yraw >= 0) & (yraw < 100), yraw + 2000).otherwise(yraw)
    )


def _compact_error() -> Column:
    """Compact-branch error renderer over ``_pd_*`` attributes."""
    m, dd, y = F.col("_pd_m"), F.col("_pd_dd"), F.col("_pd_y")
    cd, maxd = F.col("_pd_cd"), F.col("_pd_maxd")
    return (
        F.when(
            (m < 1) | (m > 12),
            F.format_string("Invalid month: %d (must be between 1 and 12)", m),
        )
        .when(dd < 1, F.format_string("Invalid day: %d (must be greater than 0)", dd))
        .when(
            (y < 1900) | (y > 2100),
            F.format_string("Invalid year: %d (must be between 1900 and 2100)", y),
        )
        .when(
            cd.isNull(),
            F.format_string(
                "Invalid day: %d (maximum %d days in month %d)", dd, maxd, m
            ),
        )
    )


def with_parsed_date(
    df,
    src_col: str,
    date_name: str = "parsed_date",
    err_name: str = "parse_error",
):
    """Append ``date_name``/``err_name`` columns parsed from
    ``src_col`` per the reference cascade: exactly one of the two is
    non-null on every row.

    Built as chained projections: a single expression repeats the
    normalization/digit subtrees at every use site, its generated Java
    method exceeds janino's 64 KB limit and Spark silently falls back
    to interpreted evaluation (~6x slower). Chained projections keep
    each intermediate as a codegen local reused by the next step (each
    temp is referenced more than once, so CollapseProject leaves the
    steps in place).

    A consumer that filters on ``err_name`` should read a persisted
    copy of the result: a filter straight over the projections lets
    predicate pushdown substitute the whole error renderer into the
    scan predicate, which is again too large for one compiled method
    (``validate_types`` and ``vax_deadletter`` persist it).
    """
    out = _parse_prefix(df, src_col)
    nd = F.col("_pd_nd")
    yraw, m, dd = F.col("_pd_yraw"), F.col("_pd_m"), F.col("_pd_dd")
    # branch guards: chained columns would otherwise evaluate for EVERY
    # row; guarding keeps the compact branch from paying the 9-format
    # cascade and vice versa — measured 2x on the compact-heavy mix.
    y = F.col("_pd_y")
    compact = ~F.col("_pd_empty") & (nd >= 6)
    cascade_branch = ~F.col("_pd_empty") & (nd < 6)
    out = out.withColumns(
        {
            "_pd_cd": F.when(
                compact,
                F.try_to_date(
                    F.format_string("%04d-%02d-%02d", y, m, dd), "yyyy-MM-dd"
                ),
            ),
            "_pd_maxd": F.when(
                compact, F.dayofmonth(F.last_day(F.make_date(y, m, F.lit(1))))
            ),
        }
    )
    cd = F.col("_pd_cd")
    out = out.withColumn("_pd_cerr", F.when(compact, _compact_error()))
    out = out.withColumns(
        {
            f"_pd_c{i}": F.when(
                cascade_branch, F.try_to_date(F.col("_pd_cleaned"), fmt)
            )
            for i, fmt in enumerate(CASCADE_FORMATS)
        }
    )
    out = out.withColumn(
        "_pd_casc",
        F.coalesce(
            *[
                F.when(
                    F.year(F.col(f"_pd_c{i}")).between(1900, 2100), F.col(f"_pd_c{i}")
                )
                for i in range(len(CASCADE_FORMATS))
            ]
        ),
    )
    empty, cerr, casc = F.col("_pd_empty"), F.col("_pd_cerr"), F.col("_pd_casc")
    out = out.withColumns(
        {
            date_name: (
                F.when(empty, F.lit(None).cast("date"))
                .when(nd >= 6, F.when(cerr.isNull(), cd))
                .otherwise(casc)
            ),
            err_name: (
                F.when(empty, F.lit("Empty date string"))
                .when(nd >= 6, cerr)
                .otherwise(
                    F.when(
                        casc.isNull(),
                        F.format_string(
                            "Unable to parse date '%s': format not recognized",
                            F.col("_pd_cleaned"),
                        ),
                    )
                )
            ),
        }
    )
    return out.drop(*_PD_TEMPS)


def with_parsed_dates(
    df: DataFrame,
    src_cols: list[str],
    date_prefix: str,
    err_prefix: str,
) -> DataFrame:
    """Append ``date_prefix + c`` / ``err_prefix + c`` for every ``c``
    in ``src_cols``, the same values :func:`with_parsed_date` gives,
    parsing each distinct string once instead of once per row.

    The distinct values of all the columns (cast to string, the
    parser's own first step) are taken in one pass, parsed once, and
    joined back per column with a left join on ``eqNullSafe``, so a
    NULL cell still meets the parse of NULL ("Empty date string").
    Every join reads the same lookup, so the planner reuses one shuffle
    and one broadcast for all of them.

    The lookup holds one row per distinct string, not per row: small
    for calendar dates, but it grows with the number of unique garbage
    strings in the source. So the join carries no broadcast hint: the
    planner broadcasts the lookup when it fits
    ``autoBroadcastJoinThreshold`` (by its estimate, or under AQE by
    the measured size of the distinct stage) and shuffles it otherwise.
    """
    if not src_cols:
        return df
    strings = df.select(
        F.explode(F.array(*[F.col(c).cast("string") for c in src_cols])).alias(_KEY)
    ).distinct()
    lookup = with_parsed_date(strings, _KEY, _DATE, _ERR)
    out = df
    for c in src_cols:
        side = lookup.select(
            F.col(_KEY).alias(f"{_KEY}_{c}"),
            F.col(_DATE).alias(date_prefix + c),
            F.col(_ERR).alias(err_prefix + c),
        )
        on = F.col(c).cast("string").eqNullSafe(F.col(f"{_KEY}_{c}"))
        out = out.join(side, on, "left").drop(f"{_KEY}_{c}")
    return out
