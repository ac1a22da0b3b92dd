"""Type validation and the dead-letter split.

Parity targets (reference ``src/validators/data_validator.py``):

- P7 string casts of the 8 listed columns (``data_validator.py:129-143``).
- UD1/P9 date validation with reasons (``data_validator.py:146-190``):
  mandatory-date failures are *quarantined* (copied to a dead-letter
  frame annotated with ``Validation_Error`` + ``Invalid_Field``) and the
  offending cell nulled; optional-date failures are nulled silently.
- P8 valid-record filter (``data_validator.py:251-290``): Open_Date not
  null AND every mandatory non-date column non-null and non-empty.
- P5/P6 warehouse rename + name normalization
  (``data_validator.py:282``, ``snowflake_connector.py:203,273``).

Spark-first re-expression: instead of the reference's mask-and-concat,
validation is one lazy plan producing parsed DATE columns plus an
error column per date field. Each distinct date string is parsed once
(``functions/dates.with_parsed_dates``: a few thousand strings, not
one parse per cell per file) and joined back to the rows; no Python in
the loop. The quarantine and the clean path are two projections of
that one persisted frame, and the dead-letter filter on the error
column reads it too: the two sinks then share one read of the source
and one join, where an unpersisted filter would re-read the CSVs and
redo the distinct pass for each sink.

Documented divergence: the reference's ``astype(str)`` turns missing
names into the literal string ``"nan"``, which then *passes* the
non-empty filter; this engine keeps SQL NULLs and filters them out.
"""

from __future__ import annotations

import datetime as _dt
import functools

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.functions.dates import with_parsed_dates
from incubyte_vaccination_data_pipeline_spark.schema import (
    MANDATORY_COLUMNS,
    MANDATORY_DATE_COLUMNS,
    OPTIONAL_DATE_COLUMNS,
    STRING_COLUMNS,
    WAREHOUSE_COLUMN_MAP,
    WAREHOUSE_SCHEMA,
    normalize_warehouse_name,
)


def validate_types(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Cast strings, parse dates, split into (clean, dead_letter).

    ``clean`` has mandatory/optional date columns as ``DateType`` (NULL
    where unparseable). ``dead_letter`` holds the original rows that
    failed a *mandatory* date parse, with ``Validation_Error`` (reason
    text) and ``Invalid_Field`` (column name) appended, one record per
    (row, failing field). Both are projections of one frame holding
    the parse of every date column (each distinct string parsed once),
    persisted (lazily, ``MEMORY_AND_DISK``) so the source is read and
    joined once for the two outputs. The dead letter carries that frame
    in ``_ivdp_persisted_bases``; free it with
    ``shared_cache.release(dead_letter)`` once both outputs are
    written.
    """
    typed = df
    for c in STRING_COLUMNS:
        if c in typed.columns:
            typed = typed.withColumn(c, F.col(c).cast("string"))

    # one parse per distinct date string, joined back per column (see
    # functions/dates.py with_parsed_dates). Both outputs read the
    # persisted frame, so the source is read and joined once for the
    # two sinks
    date_cols = [c for c in MANDATORY_DATE_COLUMNS + OPTIONAL_DATE_COLUMNS if c in typed.columns]
    parsed = with_parsed_dates(typed, date_cols, "__date_", "__err_").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # dead letter: original (pre-parse) column values preserved, like
    # the reference's copy of the still-string frame
    dead_letters = [
        parsed.filter(F.col(f"__err_{c}").isNotNull()).select(
            *df.columns,
            F.col(f"__err_{c}").alias("Validation_Error"),
            F.lit(c).alias("Invalid_Field"),
        )
        for c in MANDATORY_DATE_COLUMNS
        if c in df.columns
    ] or [
        parsed.filter(F.lit(False)).select(
            *df.columns,
            F.lit(None).cast("string").alias("Validation_Error"),
            F.lit(None).cast("string").alias("Invalid_Field"),
        )
    ]
    dead_letter = functools.reduce(DataFrame.unionByName, dead_letters)
    dead_letter._ivdp_persisted_bases = [parsed]

    clean = parsed.withColumns({c: F.col(f"__date_{c}") for c in date_cols}).drop(
        *[f"__date_{c}" for c in date_cols], *[f"__err_{c}" for c in date_cols]
    )
    return clean, dead_letter


def _non_empty(col: Column) -> Column:
    return col.isNotNull() & (col.cast("string") != "")


def get_valid_records(df: DataFrame) -> DataFrame:
    """P8 mandatory filter + warehouse rename + name normalization."""
    pred = F.lit(True)
    for c in MANDATORY_DATE_COLUMNS:
        if c in df.columns:
            pred = pred & F.col(c).isNotNull()
    for c in MANDATORY_COLUMNS:
        if c in MANDATORY_DATE_COLUMNS or c not in df.columns:
            continue
        pred = pred & _non_empty(F.col(c))
    out = df.filter(pred)
    renamed = {c: WAREHOUSE_COLUMN_MAP.get(c, c) for c in out.columns}
    out = out.withColumnsRenamed(renamed)
    return out.toDF(*[normalize_warehouse_name(c) for c in out.columns])


def to_warehouse(
    df: DataFrame,
    load_date: str | _dt.datetime | None = None,
) -> DataFrame:
    """Append warehouse lineage columns (``LOAD_DATE``, and
    ``SOURCE_FILE`` if the ingest didn't already stamp one) — parity
    with ``snowflake_connector.py:198-199`` and
    ``create_intermediate_table.sql:39``.

    ``load_date`` pins ingest time for deterministic tests; the
    production default is ``current_timestamp()``.

    The output is conformed to the full DDL-defined warehouse layout
    (``create_intermediate_table.sql:7-41``): columns absent from the
    source dialects come out as typed NULLs, column order matches the
    table.
    """
    out = df
    if "SOURCE_FILE" not in out.columns:
        out = out.withColumn("SOURCE_FILE", F.input_file_name())
    ld = (
        F.current_timestamp()
        if load_date is None
        else F.lit(str(load_date)).cast("timestamp")
    )
    out = out.withColumn("LOAD_DATE", ld)
    exprs = []
    for field in WAREHOUSE_SCHEMA.fields:
        if field.name in out.columns:
            exprs.append(F.col(field.name).cast(field.dataType))
        else:
            exprs.append(F.lit(None).cast(field.dataType).alias(field.name))
    return out.select(*exprs)
