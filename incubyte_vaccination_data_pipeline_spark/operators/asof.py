"""As-of (point-in-time) join — an operator Spark lacks natively.

For each left row, attach the most recent right row with
``right.ts <= left.ts`` per key (the backward as-of join of kdb/pandas
``merge_asof``/DuckDB ``ASOF JOIN``).

Spark-first formulation: instead of a range join (O(n*m) per key) or a
per-key ``merge_asof`` in Pandas UDFs (Python in the hot path), the two
sides are tagged and UNIONed, then a single
``last_value(right_payload, ignoreNulls) OVER (PARTITION BY key ORDER
BY ts, side, tiebreak ROWS UNBOUNDED PRECEDING)`` window carries the
latest right payload forward onto every left row — one shuffle on the
key, linear scan per partition, whole-stage codegen'd. Right-before-
left ordering at equal timestamps makes the join inclusive
(``>=``), matching DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``.

At 100 TB: the union doubles neither storage nor shuffle volume vs a
join (both sides shuffle once either way); skewed keys can be salted by
splitting the time axis per key; and the window is streaming-friendly
(monotonic ts per partition => bounded state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    payload_cols: list[str] | None = None,
    payload_prefix: str = "r_",
) -> DataFrame:
    """Left as-of join: every ``left`` row + the latest ``right`` row
    with ``right.ts <= left.ts`` for the same ``on`` key (NULL payload
    when no prior right row exists).

    ``payload_cols`` are the right-side columns to carry (default: all
    non-key, non-ts columns); they come back prefixed plus
    ``{prefix}{ts_col}`` for the matched right timestamp.
    """
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in (*on, ts_col)]
    payload = F.struct(
        F.col(ts_col).alias(ts_col), *[F.col(c).alias(c) for c in payload_cols]
    )
    l_tag = left.withColumn("__side", F.lit(1)).withColumn(
        "__payload", F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        )
    )
    r_tag = right.select(
        *on,
        F.col(ts_col),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    # align schemas: right side has no left payload columns
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag.select(*l_tag.columns))

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__asof", F.last("__payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).drop("__side", "__payload")
    out = out.withColumn(f"{payload_prefix}{ts_col}", F.col("__asof")[ts_col])
    for c in payload_cols:
        out = out.withColumn(f"{payload_prefix}{c}", F.col("__asof")[c])
    return out.drop("__asof")

