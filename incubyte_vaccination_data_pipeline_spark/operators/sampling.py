"""Deterministic dataset splitting for training pipelines.

``df.randomSplit`` is neither stable across runs (seeded per
partition layout) nor across engines; a training-data pipeline needs
splits that are reproducible, content-addressed (a document keeps its
split when the corpus grows), and auditable from SQL. The assignment
here is a pure scan-side expression: bucket = the first 4 hex chars of
``md5(salt || key)`` read as an integer in [0, 65536), mapped to
splits by cumulative-fraction boundaries. md5 hex is portable (DuckDB
restates the identical arithmetic), unlike engine-native hash
functions — same trick as the catalog's ``sample_hash_deterministic``.

No shuffle, no sample(), no state: at 100 TB the split is a free
filter pushed at the scan, and the same row always lands in the same
split on every engine, every run, every corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.operators.dedup import md5_half_decode_sql

BUCKETS = 65536  # 16 bits of md5 -> plenty of resolution for 3 splits

#: conventional 90/5/5; order matters (cumulative boundaries)
DEFAULT_FRACTIONS: dict[str, float] = {"train": 0.90, "val": 0.05, "test": 0.05}


def split_bucket_expr(key_col: str, salt: str = "split-v1") -> Column:
    """[0, BUCKETS) bucket from the content hash of ``salt || key``.

    The salt namespaces the assignment: a different salt is an
    independent re-split, and decouples this hash from any other
    md5-of-key use on the same column.
    """
    hex4 = F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 4)
    return F.conv(hex4, 16, 10).cast("int")


def split_bucket_sql(key_sql: str, salt: str = "split-v1") -> str:
    """DuckDB restatement of :func:`split_bucket_expr` for the oracles:
    the same 4 md5 hex digits of ``salt || key_sql``, decoded by the
    one positional decoder. ``key_sql`` must already be a string
    expression (``CAST(doc_id AS VARCHAR)``)."""
    return md5_half_decode_sql(f"md5('{salt}' || {key_sql})", 1, "strpos", digits=4)


def split_boundaries(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(split_name, exclusive_upper_bucket) pairs; the last boundary is
    forced to BUCKETS so rounding never drops rows."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    names = list(fractions)
    for i, name in enumerate(names):
        cum += fractions[name]
        upper = BUCKETS if i == len(names) - 1 else round(cum * BUCKETS)
        out.append((name, upper))
    return out


def with_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Label every row with its deterministic split assignment."""
    bounds = split_boundaries(fractions or DEFAULT_FRACTIONS)
    bucket = split_bucket_expr(key_col, salt)
    # first-match-wins when cascade; Catalyst CSE evaluates the shared
    # bucket expression once
    cascade = None
    for name, upper in bounds[:-1]:
        cond = bucket < F.lit(upper)
        cascade = F.when(cond, F.lit(name)) if cascade is None else cascade.when(cond, F.lit(name))
    assign = F.lit(bounds[-1][0]) if cascade is None else cascade.otherwise(F.lit(bounds[-1][0]))
    return df.withColumn(split_col, assign)


def take_split(
    df: DataFrame,
    key_col: str,
    split: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Just one split, as a scan-side filter (no extra column)."""
    bounds = split_boundaries(fractions or DEFAULT_FRACTIONS)
    bucket = split_bucket_expr(key_col, salt)
    lower = 0
    for name, upper in bounds:
        if name == split:
            return df.filter((bucket >= F.lit(lower)) & (bucket < F.lit(upper)))
        lower = upper
    raise ValueError(f"unknown split {split!r}; have {[n for n, _ in bounds]}")
