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
validation is one lazy expression tree producing parsed DATE columns
plus an error column per mandatory date field; the quarantine and the
clean path are two filters over the same plan (Catalyst computes the
predicate once per row; no Python in the loop).

Documented divergence: the reference's ``astype(str)`` turns missing
names into the literal string ``"nan"``, which then *passes* the
non-empty filter; this engine keeps SQL NULLs and filters them out.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.functions.dates import (
    dead_letter_frame,
    with_parsed_date,
)
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
    text) and ``Invalid_Field`` (column name) appended. It carries the
    parse-prefix caches of its branches (see
    ``functions/dates.dead_letter_frame``); release them with
    ``shared_cache.release(dead_letter)`` once both outputs are
    written.
    """
    typed = df
    for c in STRING_COLUMNS:
        if c in typed.columns:
            typed = typed.withColumn(c, F.col(c).cast("string"))

    # one parse per date column, as chained projections (codegen-sized
    # steps — see functions/dates.py with_parsed_date)
    date_cols = [c for c in MANDATORY_DATE_COLUMNS + OPTIONAL_DATE_COLUMNS if c in typed.columns]
    parse_input = typed  # pre-parse frame: dead letters re-derive from it
    for c in date_cols:
        typed = with_parsed_date(typed, c, f"__date_{c}", f"__err_{c}")

    mandatory_present = [c for c in MANDATORY_DATE_COLUMNS if c in df.columns]

    # dead-letter: one record per (row, failing mandatory field), original
    # (pre-parse) column values preserved, like the reference's copy of the
    # still-string frame. stack() keeps this a single pass.
    dead_letters = []
    persisted_bases = []
    for c in mandatory_present:
        # three-way failure-class union — each branch's plan holds only
        # its own slice of the parser, so every stage codegen-compiles
        # (see functions/dates.dead_letter_frame)
        dl = dead_letter_frame(
            parse_input.select(*df.columns), c, err_name="Validation_Error"
        )
        persisted_bases += dl._ivdp_persisted_bases
        dead_letters.append(dl.withColumn("Invalid_Field", F.lit(c)))
    if dead_letters:
        dead_letter = dead_letters[0]
        for dl in dead_letters[1:]:
            dead_letter = dead_letter.unionByName(dl)
    else:
        dead_letter = (
            typed.filter(F.lit(False)).select(
                *df.columns,
                F.lit(None).cast("string").alias("Validation_Error"),
                F.lit(None).cast("string").alias("Invalid_Field"),
            )
        )

    dead_letter._ivdp_persisted_bases = persisted_bases

    clean = typed
    for c in date_cols:
        clean = clean.withColumn(c, F.col(f"__date_{c}"))
    clean = clean.drop(
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
