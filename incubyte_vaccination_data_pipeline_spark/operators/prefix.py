"""Distributed global prefix sum (the scale-correct cumulative sum).

A naive global running total is a window over ONE ordering with no
partition key — Spark plans it as a single-task sort, the classic
100 TB scale-killer. The textbook distributed shape implemented here:

1. range-partition by the order column (``repartitionByRange`` — the
   same total-order layout a global sort would use, but each range is
   an independent task);
2. per-partition running sum via an ordinary partitioned window;
3. per-partition TOTALS to the driver — a metadata-scale collect
   bounded by the partition count, like the IVF centroid pull — and an
   exclusive prefix over them;
4. broadcast the tiny offset table back and add.

Used by ``corpus_pack_sequences`` (GPT-style training-sequence
packing: concatenate all document tokens, slice into fixed-length
sequences) where every document needs its global token offset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)

#: target bytes per range when deriving ``n_ranges`` from the input's
#: Catalyst size estimate (r15, guide §2 "make partitioning
#: scale-adaptive — derive from input size rather than a constant"):
#: each range is one independent window task, so ranges want to be
#: work-sized, not core-count-sized. ``n_ranges`` stays capped at
#: ``spark.sql.shuffle.partitions`` (the prior constant), so at
#: cluster scale the behavior is unchanged; on small inputs the
#: derivation stops paying 32 sampling ranges + 32 window tasks +
#: a 32-row offsets collect for a few-MB frame (interleaved A/B at
#: sf0.1: pack 1.20 -> 0.98 s, pareto 1.28 -> 1.12, equiheight
#: 0.43 -> 0.40 median).
TARGET_RANGE_BYTES = 32 << 20


def global_cumsum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str,
    out_col: str = "cumsum",
    n_ranges: int | None = None,
    return_total: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Inclusive global running sum of ``value_col`` in ``order_col``
    order, without a single-task global window. ``order_col`` (one
    column name or a list ordered lexicographically) must be a TOTAL
    order (unique value tuples): with ties, the within-tie running
    order — and therefore each tied row's cumsum — is not
    deterministic in any engine; pass a tie-breaking column instead of
    assuming composite-key magnitudes fit one column. The
    range-partitioned frame is lazily checkpointed so the totals pass
    and the final projection share one materialization (range bounds
    come from a sampling pass and must not be re-derived between the
    two uses).

    ``return_total=True`` additionally returns the GRAND total of
    ``value_col`` as a plain int — the offsets pass already sums every
    partition total on the driver, so consumers that need N (bucket
    arithmetic, normalization) get it for free instead of paying a
    separate aggregation scan + broadcast at execution time."""
    spark = df.sparkSession
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    if n_ranges is None:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = 0
        # derive from input size, clamp to [2, shuffle partitions]
        # (the prior constant is the cap, so cluster-scale inputs keep
        # the old width; see TARGET_RANGE_BYTES)
        n_ranges = (
            max(2, min(cap, -(-est // TARGET_RANGE_BYTES))) if est > 0 else cap
        )
    # r14: checkpoint the INPUT before repartitionByRange — the range
    # partitioner's sampling job evaluates the whole child lineage
    # once and the ranged checkpoint materializes it again, so an
    # expensive input projection (the packing query's per-doc BPE
    # tokenization, pareto's revenue aggregate) ran twice per call.
    # The input frame is the same compact (order, value) class as the
    # ranged checkpoint. Measured 0.83 -> 0.77 s on
    # corpus_pack_sequences with identical output; the r15 interleaved
    # A/B of both variants kept it (OPTIMIZATION_r15.md).
    df = durable_checkpoint(df, eager=False)
    ranged = durable_checkpoint(
        df.repartitionByRange(n_ranges, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("__local", F.sum(F.col(value_col)).over(w))
    totals = {
        r["__pid"]: r["__tot"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum(F.col(value_col)).alias("__tot"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid] or 0
    off_df = spark.createDataFrame(offsets, "__pid int, __offset bigint")
    out = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, (F.col("__offset") + F.col("__local")).cast("bigint"))
        .drop("__pid", "__local", "__offset")
    )
    return (out, int(acc)) if return_total else out
