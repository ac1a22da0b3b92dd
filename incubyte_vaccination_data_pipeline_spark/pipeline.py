"""End-to-end batch pipeline (C1 orchestration parity).

Reference flow (``main.py:141-165``): load CSVs -> validate -> write
warehouse -> generate + execute per-country views. Here the whole flow
is one lazy Spark DAG with two sinks (warehouse + dead-letter) and the
views registered as temp views over the freshly-written table.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

from incubyte_vaccination_data_pipeline_spark.operators.validate import (
    get_valid_records,
    to_warehouse,
    validate_types,
)
from incubyte_vaccination_data_pipeline_spark.operators.views import register_country_views
from incubyte_vaccination_data_pipeline_spark.shared_cache import release
from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import load_source_data
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
    write_dead_letter,
    write_warehouse,
)


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    warehouse_path: str,
    dead_letter_path: str | None = None,
    as_of: str | _dt.date | None = None,
    load_date: str | _dt.datetime | None = None,
    strict: bool = False,
    dead_letter_format: str = "parquet",
) -> tuple[DataFrame, list[str]]:
    """Run the full batch: returns (warehouse DataFrame, view names).

    ``dead_letter_format="csv"`` switches the quarantine channel to the
    reference's timestamped-CSV convention (see ``write_dead_letter``).
    """
    raw = load_source_data(spark, data_dir, strict=strict)
    clean, dead = validate_types(raw)
    if dead_letter_path is not None:
        write_dead_letter(dead, dead_letter_path, fmt=dead_letter_format)
    valid = get_valid_records(clean)
    warehouse = to_warehouse(valid, load_date=load_date)
    write_warehouse(warehouse, warehouse_path, mode="overwrite")
    # the views read the stored parquet, so the persisted date parse
    # behind both sinks is no longer needed by anything
    release(dead)
    stored = spark.read.parquet(warehouse_path)
    views = register_country_views(spark, stored, as_of=as_of)
    return stored, views
