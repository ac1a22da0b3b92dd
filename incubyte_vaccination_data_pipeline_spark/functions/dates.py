"""Multi-format date parsing as native Column expressions.

Behavioral parity with the reference's ``src/utils/date_parser.py:12-134``
(intshivam/incubyte-vaccination-data-pipeline), re-expressed as a single
JVM-side expression tree — no Python in the hot path, so the cascade
runs inside whole-stage codegen and scales to 100 TB.

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

from pyspark import StorageLevel
from pyspark.sql import Column
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


def _normalized(col: Column) -> Column:
    """Trim + float-form normalization ("20220301.0" -> "20220301")."""
    s = F.trim(col.cast("string"))
    return F.when(
        s.rlike(r"^\d+\.\d+$"), F.regexp_extract(s, r"^(\d+)\.", 1)
    ).otherwise(s)


def parse_date_struct(col: Column) -> Column:
    """Parse ``col`` per the reference cascade.

    Returns ``struct(date: date, error: string)`` — exactly one of the
    two fields is non-null.
    """
    s = _normalized(col)
    digits = F.regexp_replace(s, r"[^0-9]", "")
    nd = F.length(digits)

    # ---- compact-digit branch (>= 6 digits) ------------------------------
    month = F.when(nd == 7, F.substring(digits, 1, 1)).otherwise(
        F.substring(digits, 1, 2)
    ).cast("int")
    day = F.when(nd == 7, F.substring(digits, 2, 2)).otherwise(
        F.substring(digits, 3, 2)
    ).cast("int")
    raw_year = F.when(nd == 7, F.substring(digits, 4, 4)).otherwise(
        # year := all remaining digits (date_parser.py:53); > 4 digits
        # simply fails the range check, as in the reference
        F.substring(digits, 5, 16)
    ).cast("int")
    # > 9-digit years overflow the int cast to NULL under non-ANSI eval;
    # coalesce to a -1 sentinel AND keep the 2-digit-year adjustment off
    # negatives (else -1 + 2000 = 1999 would sail through the range
    # check and a 15-digit string would "parse") so they fail as
    # Invalid year, like the reference — whose error text prints the
    # full huge number where we print -1 (documented divergence; same
    # classification).
    raw_year = F.coalesce(raw_year, F.lit(-1))
    year = F.when((raw_year >= 0) & (raw_year < 100), raw_year + 2000).otherwise(
        raw_year
    )

    compact_date = F.try_to_date(
        F.format_string("%04d-%02d-%02d", year, month, day), "yyyy-MM-dd"
    )
    max_day = F.dayofmonth(F.last_day(compact_date_base := F.make_date(year, month, F.lit(1))))
    _ = compact_date_base  # named only for readability

    compact_error = (
        F.when(
            (month < 1) | (month > 12),
            F.format_string("Invalid month: %d (must be between 1 and 12)", month),
        )
        .when(day < 1, F.format_string("Invalid day: %d (must be greater than 0)", day))
        .when(
            (year < 1900) | (year > 2100),
            F.format_string("Invalid year: %d (must be between 1900 and 2100)", year),
        )
        .when(
            compact_date.isNull(),
            F.format_string(
                "Invalid day: %d (maximum %d days in month %d)", day, max_day, month
            ),
        )
    )

    # ---- strptime cascade (< 6 digits) -----------------------------------
    cleaned = F.regexp_replace(s, r"[^0-9/\-]", "")
    candidates = [F.try_to_date(cleaned, fmt) for fmt in CASCADE_FORMATS]
    in_range = [
        F.when(F.year(c).between(1900, 2100), c) for c in candidates
    ]
    cascade_date = F.coalesce(*in_range)
    cascade_error = F.format_string(
        "Unable to parse date '%s': format not recognized", cleaned
    )

    empty = s.isNull() | (s == "")
    date_out = (
        F.when(empty, F.lit(None).cast("date"))
        .when(nd >= 6, F.when(compact_error.isNull(), compact_date))
        .otherwise(cascade_date)
    )
    error_out = (
        F.when(empty, F.lit("Empty date string"))
        .when(nd >= 6, compact_error)
        .otherwise(F.when(cascade_date.isNull(), cascade_error))
    )
    return F.struct(date_out.alias("date"), error_out.alias("error"))


_PD_TEMPS = [
    "_pd_s", "_pd_digits", "_pd_cleaned", "_pd_empty", "_pd_nd",
    "_pd_m", "_pd_dd", "_pd_yraw", "_pd_y", "_pd_cd", "_pd_maxd",
    "_pd_cerr", "_pd_casc",
] + [f"_pd_c{i}" for i in range(len(CASCADE_FORMATS))]


def _parse_prefix(df, src_col: str):
    """Shared normalization/positional-field prefix of the cascade, as
    chained projections (``_pd_*`` temp columns)."""
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
            # try_cast: these evaluate for EVERY row (not CASE-guarded
            # like the single-expression form), so ''/overflow must null
            # instead of throwing under the driver's ANSI session
            "_pd_m": F.when(nd == 7, F.substring(dg, 1, 1))
            .otherwise(F.substring(dg, 1, 2))
            .try_cast("int"),
            "_pd_dd": F.when(nd == 7, F.substring(dg, 2, 2))
            .otherwise(F.substring(dg, 3, 2))
            .try_cast("int"),
            "_pd_yraw": F.coalesce(
                F.when(nd == 7, F.substring(dg, 4, 4))
                .otherwise(F.substring(dg, 5, 16))
                .try_cast("int"),
                F.lit(-1),
            ),
        }
    )
    yraw = F.col("_pd_yraw")
    # guard the 2-digit-year adjustment off the -1 overflow sentinel
    # (see parse_date_struct: -1 + 2000 would pass the range check)
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


def dead_letter_frame(df, src_col: str, err_name: str = "validation_error"):
    """Rows of ``df`` whose ``src_col`` fails the cascade, annotated
    with the reference's reason text — built as a UNION of the three
    failure classes (empty / compact-invalid / cascade-unparseable).

    Each branch's plan contains only its own branch of the parser, so
    every whole-stage method compiles (the all-in-one form, with or
    without chaining, exceeds janino's 64 KB ``processNext`` limit and
    falls back to interpreted eval).

    The shared normalization prefix is persisted ONCE before the
    branch split: the three union branches each reference it, and
    Spark duplicates referenced subtrees — without the shared cache
    the source was scanned and the regex-heavy prefix computed three
    times per execution. The persist is LAZY (``MEMORY_AND_DISK``):
    building the frame has no side effect, the first action populates
    the cache and the remaining branches read it, and lineage stays
    intact so an executor loss recomputes the lost partitions instead
    of failing the job (unlike ``localCheckpoint``, which severs
    lineage into non-fault-tolerant executor storage — wrong at the
    100 TB design point for a full-width prefix). Each branch still
    compiles its own whole-stage method, so the janino-limit rationale
    for the union is unchanged.

    The cache handle is attached to the returned frame as
    ``_ivdp_persisted_bases`` (a list). Every DataFrame transformation
    returns a new frame without it, so callers that derive from this
    frame must carry the list onto the derived frame themselves
    (``operators/validate.validate_types`` does), then free it with
    ``shared_cache.release`` after their terminal action.
    """
    orig = df.columns
    base = _parse_prefix(df, src_col).persist(StorageLevel.MEMORY_AND_DISK)
    empty, nd = F.col("_pd_empty"), F.col("_pd_nd")

    b_empty = base.filter(empty).select(
        *orig, F.lit("Empty date string").alias(err_name)
    )

    m, dd, y = F.col("_pd_m"), F.col("_pd_dd"), F.col("_pd_y")
    compact = base.filter(~empty & (nd >= 6)).withColumns(
        {
            "_pd_cd": F.try_to_date(
                F.format_string("%04d-%02d-%02d", y, m, dd), "yyyy-MM-dd"
            ),
            "_pd_maxd": F.dayofmonth(F.last_day(F.make_date(y, m, F.lit(1)))),
        }
    )
    # filter on the SMALL validity predicate (attribute comparisons +
    # one try_to_date after pushdown substitution) and render the error
    # text only for surviving rows — filtering on the rendered error
    # would push the whole renderer into the scan predicate and blow
    # the codegen method limit again
    cd = F.col("_pd_cd")
    bad_compact = (
        (m < 1) | (m > 12) | (dd < 1) | (y < 1900) | (y > 2100) | cd.isNull()
    )
    # __fence (rand) stops predicate pushdown from substituting the
    # whole projection chain into a scan-level predicate. The disjunct
    # must be non-foldable: rand() is non-nullable so IS NULL would
    # constant-fold away and re-enable pushdown; "< -1" is never true
    # but not provably so. Per-branch the fenced stage fits the
    # codegen method limit
    b_compact = (
        compact.withColumn("__fence", F.rand(seed=0))
        .filter(bad_compact | (F.col("__fence") < -1))
        .select(*orig, _compact_error().alias(err_name))
    )

    casc = base.filter(~empty & (nd < 6)).withColumns(
        {
            f"_pd_c{i}": F.try_to_date(F.col("_pd_cleaned"), fmt)
            for i, fmt in enumerate(CASCADE_FORMATS)
        }
    )
    casc_date = F.coalesce(
        *[
            F.when(F.year(F.col(f"_pd_c{i}")).between(1900, 2100), F.col(f"_pd_c{i}"))
            for i in range(len(CASCADE_FORMATS))
        ]
    )
    b_casc = (
        casc.withColumn("_pd_casc", casc_date)
        .withColumn("__fence", F.rand(seed=0))
        .filter(F.col("_pd_casc").isNull() | (F.col("__fence") < -1))
        .select(
            *orig,
            F.format_string(
                "Unable to parse date '%s': format not recognized",
                F.col("_pd_cleaned"),
            ).alias(err_name),
        )
    )
    out = b_empty.unionByName(b_compact).unionByName(b_casc)
    out._ivdp_persisted_bases = [base]
    return out


def with_parsed_date(
    df,
    src_col: str,
    date_name: str = "parsed_date",
    err_name: str = "parse_error",
):
    """Append ``date_name``/``err_name`` columns parsed from
    ``src_col`` with the same cascade semantics as
    :func:`parse_date_struct` — but built as chained projections.

    The single-expression form repeats the normalization/digit
    subtrees at every use site; the generated Java method exceeds
    janino's 64 KB limit and Spark silently falls back to interpreted
    evaluation (~6x slower). Chained projections keep each intermediate
    as a codegen local reused by the next step (each temp is referenced
    more than once, so CollapseProject leaves the steps in place).
    For error-side consumers that filter on failures, prefer
    :func:`dead_letter_frame` — the combined date+error plan is too
    large for one compiled stage.
    """
    temps = _PD_TEMPS
    out = _parse_prefix(df, src_col)
    nd = F.col("_pd_nd")
    yraw, m, dd = F.col("_pd_yraw"), F.col("_pd_m"), F.col("_pd_dd")
    # branch guards: chained columns would otherwise evaluate for EVERY
    # row (the single-expression form got laziness from CASE nesting);
    # guarding keeps the compact branch from paying the 9-format
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
    return out.drop(*temps)


def parse_date(col: Column) -> Column:
    """Parsed date, or NULL when invalid (to_date-style semantics)."""
    return parse_date_struct(col)["date"]


def parse_date_error(col: Column) -> Column:
    """Validation-error message, or NULL when the date is valid.

    Mirrors ``validate_date_with_reason`` (data_validator.py:146-151):
    the dead-letter channel annotates quarantined rows with this text.
    """
    return parse_date_struct(col)["error"]
