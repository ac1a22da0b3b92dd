"""CSV dialect ingest: scan, pipe-frame strip, synonym projection.

Parity targets in the reference (intshivam/incubyte-vaccination-data-pipeline):

- S1/S2 directory CSV scan + parse (``main.py:30-62``): every ``*.csv``
  under a directory, header row, values kept as strings.
- S3 pipe-frame handling (``data_validator.py:227-230``): if the first
  data row embeds a ``|H|...`` header record, that header is validated
  (warn-only) against the expected layout and every row whose first
  column starts with ``|`` is dropped.
- P1-P3 synonym projection (``data_validator.py:52-108``): keep only
  columns present in the dialect map, renamed to canonical names;
  synonym sets coalesce first-non-null in map order; unmapped columns
  (e.g. India's ``Free or Paid``) are dropped; a missing ``Country`` is
  synthesized from ``filename[:3].upper()``.

Scale note: files are read individually because each carries its own
dialect header; per-file plans union lazily via ``unionByName`` so
Catalyst still sees one DAG. Each file's header row and first data row
are read in Python (:func:`read_head`), so building the ingest runs no
Spark job: the scan gets an explicit all-string schema named as Spark's
header inference would name it, and the pipe-frame check reads the
Python-parsed first row. That costs one local file open per file, not a
header-inference job and a ``limit(1)`` probe each. For a 100 TB ingest
you would group files by dialect and glob each group into a single
multi-file scan — the projection logic here is per-dialect, not
per-file, so it transfers unchanged.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from incubyte_vaccination_data_pipeline_spark.schema import (
    COLUMN_MAP,
    EXPECTED_PIPE_HEADER,
    MANDATORY_COLUMNS,
    OPTIONAL_COLUMNS,
)

logger = logging.getLogger(__name__)


#: what Java's ``String.trim`` strips: every char up to U+0020
_JAVA_WS = "".join(map(chr, range(0x21)))


def record_parser(spark: SparkSession) -> Callable[[str], list[str]]:
    """Spark's own CSV record parser (univocity, set up from the
    options :func:`read_dialect_csv` reads with), applied to one line
    at a time on the driver: no Spark job. Its quote and escape rules
    are Spark's, malformed quoting included (a ``\\`` outside quotes
    is a plain character; ``"a""b"`` stays raw); Python's ``csv``
    module has no setting for them. A blank cell reads as ``""``."""
    jvm = spark._jvm
    options = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.PythonUtils.toScalaMap({"header": "true"}),
        False,
        spark.conf.get("spark.sql.session.timeZone"),
    )
    parser = jvm.com.univocity.parsers.csv.CsvParser(options.asParserSettings())
    return lambda line: [c or "" for c in parser.parseLine(line)]


def read_head(path: str, parse: Callable[[str], list[str]]) -> list[list[str]]:
    """The header row and first data row of a CSV file, as Spark's
    line-by-line CSV reader takes them: the first two lines that are
    not blank after a Java-style trim (Spark skips those), UTF-8 with a
    byte order mark dropped, each split by ``parse``
    (:func:`record_parser`). Fewer rows for a short file, none for an
    empty one."""
    rows: list[list[str]] = []
    with open(path, encoding="utf-8-sig", errors="replace", newline="") as f:
        for line in f:
            if line.strip(_JAVA_WS):
                rows.append(parse(line.rstrip("\r\n")))
                if len(rows) == 2:
                    break
    return rows


def safe_header(cells: list[str], case_sensitive: bool = False) -> list[str]:
    """Column names for a header row, as Spark's
    ``CSVUtils.makeSafeHeader`` makes them: a blank cell becomes
    ``_c<i>``, and every cell of a duplicated name (case-insensitively
    unless ``case_sensitive``) gets its index ``i`` as a suffix."""
    keys = [c if case_sensitive else c.lower() for c in cells]
    seen = {k for k in keys if keys.count(k) > 1}
    return [
        f"_c{i}" if c == "" else f"{c}{i}" if k in seen else c
        for i, (c, k) in enumerate(zip(cells, keys))
    ]


def read_dialect_csv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Read one source CSV with its header row skipped and every one of
    ``columns`` a string (no inference — the validators own typing,
    matching the reference's object-dtype reads). Building the frame
    runs no Spark job."""
    schema = StructType([StructField(c, StringType()) for c in columns])
    return spark.read.schema(schema).option("header", True).csv(path)


def strip_pipe_frames(df: DataFrame, first_row: list[str] | None) -> DataFrame:
    """Drop ``|``-framed records when the file embeds a pipe header.

    Mirrors ``data_validator.py:227-230``: detection looks at the first
    data row only (``first_row``, its cells past the header dropped;
    None for a file without data rows); the header record is compared
    to the expected layout and mismatches only warn; all rows whose
    *first* column starts with ``|`` are then filtered out
    distributively.
    """
    header = next((v for v in first_row or () if v.startswith("|H|")), None)
    if header is None:
        return df
    if header != EXPECTED_PIPE_HEADER:
        logger.warning(
            "Header does not match expected format. Expected: %s Received: %s",
            EXPECTED_PIPE_HEADER,
            header,
        )
    first_col = df.columns[0]
    return df.filter(~F.coalesce(df[first_col].startswith("|"), F.lit(False)))


def synonym_projection(
    df: DataFrame, filename: str | None = None, strict: bool = False
) -> DataFrame:
    """Project source-dialect columns onto the canonical schema.

    - output column order = first-occurrence order in the source file;
    - synonym sets (>1 source column -> one target) coalesce
      first-non-null in ``COLUMN_MAP`` insertion order
      (``data_validator.py:76-82``);
    - unmapped source columns are dropped;
    - absent ``Country`` is synthesized from the filename prefix;
    - missing mandatory columns warn (raise when ``strict``).
    """
    exprs = []
    processed: list[str] = []
    for source_col in df.columns:
        target = COLUMN_MAP.get(source_col)
        if target is None or target in processed:
            continue
        sources = [s for s, t in COLUMN_MAP.items() if t == target and s in df.columns]
        if len(sources) > 1:
            expr = F.coalesce(*[df[s] for s in sources])
        else:
            expr = df[source_col]
        exprs.append(expr.alias(target))
        processed.append(target)

    out = df.select(*exprs)

    if "Country" not in processed and filename:
        country_code = os.path.basename(filename)[:3].upper()
        out = out.withColumn("Country", F.lit(country_code))
        processed.append("Country")

    missing_mandatory = [c for c in MANDATORY_COLUMNS if c not in processed]
    if missing_mandatory:
        logger.warning("Missing mandatory columns: %s", missing_mandatory)
        if strict:
            raise ValueError(f"Missing mandatory columns: {missing_mandatory}")
    missing_optional = [c for c in OPTIONAL_COLUMNS if c not in processed]
    if missing_optional:
        logger.info("Missing optional columns: %s", missing_optional)
    return out


def load_source_data(
    spark: SparkSession, data_dir: str, strict: bool = False
) -> DataFrame:
    """S1+S3+P1-P3 composed over every ``*.csv`` in ``data_dir``,
    unioned by name with missing columns null-filled
    (``pd.concat`` parity, ``main.py:59-60``). Headers and pipe frames
    are read in Python (:func:`read_head`): building the frame runs no
    Spark job."""
    files = sorted(
        f for f in os.listdir(data_dir) if f.lower().endswith(".csv")
    )
    if not files:
        raise FileNotFoundError(f"no CSV files under {data_dir}")
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    parse = record_parser(spark)
    frames = []
    for fname in files:
        path = os.path.join(data_dir, fname)
        head = read_head(path, parse)
        columns = safe_header(head[0], case_sensitive) if head else []
        df = read_dialect_csv(spark, path, columns)
        df = strip_pipe_frames(df, head[1][: len(columns)] if len(head) > 1 else None)
        df = synonym_projection(df, filename=fname, strict=strict)
        df = df.withColumn("Source_File", F.lit(fname))
        frames.append(df)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
