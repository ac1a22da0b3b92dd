#!/usr/bin/env python
"""Nx stress for agg_revenue_by_nation (VERDICT r14 item 7): prove the
r14 pre-aggregation (lineitem revenue per orderkey BEFORE the orders
join, guide §2.3) in the regime where its claim lives — fact-fact
sort-merge joins, where at sf0.1 every join broadcasts and the gain is
invisible.

Builds a scratch dir with lineitem/orders replicated ``factor``x
(orderkeys shifted per copy so the join keyspace scales; custkeys kept,
so dimension joins are unchanged), then interleaves OLD (raw join ->
one aggregate, the r13 form) vs NEW (registered catalog query,
per-order partial aggregate under the join) and reports:

- wall medians/bests per variant,
- per-variant SHUFFLE WRITE BYTES, read from the status store for the
  job group each run gets (stage-level shuffle write, summed over the
  run's stages) — the direct evidence that the pre-aggregation moves
  fewer bytes through the orderkey exchange,
- the NEW form's formatted plan at Nx, written to
  plans/r15/agg_revenue_by_nation_10x_after.txt (shows the partial
  HashAggregate feeding the SortMergeJoin),
- value identity between both variants at Nx.

Usage:
    python scripts/stress_q5_10x.py [--factor 10] [--rounds 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"


def build_scratch(spark, factor: int) -> str:
    from pyspark.sql import functions as F

    root = tempfile.mkdtemp(prefix=f"ivdp-q5stress{factor}x-")
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        base = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
        parts = [
            base if i == 0 else base.withColumn(key, F.col(key) + i * 100_000_000)
            for i in range(factor)
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.repartition(max(8, factor)).write.mode("overwrite").parquet(
            os.path.join(root, f"{table}.parquet")
        )
    for t in ("customer", "nation", "region"):
        os.symlink(f"{BASE_SF}/{t}.parquet", os.path.join(root, f"{t}.parquet"))
    return root


def old_form(spark, sf_dir: str):
    """The r13 formulation: join raw lineitem through the star, one
    terminal aggregate (no per-order partial)."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
    )

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def write_plan(spark, df, path: str) -> None:
    """Write ``df``'s formatted physical plan to ``path``."""
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    with open(path, "w") as f:
        f.write(plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.session import get_spark
    from perfbench.trace import SparkProbe

    spark = get_spark(app_name="q5-stress")
    probe = SparkProbe(spark)
    scratch = build_scratch(spark, args.factor)
    print(f"scratch {scratch} factor {args.factor}", flush=True)

    new_fn = QUERIES["agg_revenue_by_nation"]

    variants = {
        "old_raw_join": lambda: old_form(spark, scratch),
        "new_preagg": lambda: new_fn(spark, scratch),
    }
    # value identity at Nx
    rows = {
        k: sorted(tuple(r) for r in v().collect()) for k, v in variants.items()
    }
    assert rows["old_raw_join"] == rows["new_preagg"], "variants disagree!"
    print(f"value identity at {args.factor}x: OK ({len(rows['new_preagg'])} rows)")

    # plan capture of the NEW form at Nx
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans/r15"
    )
    os.makedirs(plans_dir, exist_ok=True)
    write_plan(
        spark,
        new_fn(spark, scratch),
        os.path.join(plans_dir, f"agg_revenue_by_nation_{args.factor}x_after.txt"),
    )

    # two regimes: the local default (dims broadcast — the sf0.1/Nx
    # reality) and the 100 TB SMJ regime (customer is ~1.5 B rows at
    # the design point and CANNOT broadcast), emulated honestly by
    # disabling auto-broadcast for BOTH variants. The pre-aggregation's
    # claim lives in the second regime: the o_custkey exchange carries
    # one row per ORDER instead of one per line item.
    for regime, thresh in (("broadcast_dims", None), ("smj_regime", "-1")):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if thresh is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        try:
            results = {k: {"wall": [], "bytes": []} for k in variants}
            for r in range(args.rounds):
                for label, build in variants.items():
                    group = probe.new_group(f"{regime}-{label}-{r}")
                    t0 = time.perf_counter()
                    build().write.format("noop").mode("overwrite").save()
                    wall = time.perf_counter() - t0
                    results[label]["wall"].append(wall)
                    results[label]["bytes"].append(
                        probe.exec_stats(group)["shuffle_write_bytes"]
                    )
            for label, res in results.items():
                w = sorted(res["wall"])
                print(
                    json.dumps(
                        {
                            "regime": regime,
                            "variant": label,
                            "factor": args.factor,
                            "wall_median": round(w[len(w) // 2], 3),
                            "wall_best": round(w[0], 3),
                            "shuffle_write_bytes_median": sorted(res["bytes"])[
                                len(res["bytes"]) // 2
                            ],
                        }
                    ),
                    flush=True,
                )
            if thresh is not None:
                # plan capture in the SMJ regime: the partial aggregate
                # under the sort-merge join is the claim's evidence
                write_plan(
                    spark,
                    new_fn(spark, scratch),
                    os.path.join(
                        plans_dir,
                        f"agg_revenue_by_nation_{args.factor}x_smj_after.txt",
                    ),
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    if not args.keep:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
