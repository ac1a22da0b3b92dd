"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's per-country
dedup-latest view with derived columns) at sf0.001. ``queries()`` /
``oracle_sql()`` expose the engine's named operator catalog
(``incubyte_vaccination_data_pipeline_spark/catalog``) in registry
(domain) order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from incubyte_vaccination_data_pipeline_spark import catalog

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.QUERIES["vax_country_view"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for every query
    (non-SQL-expressible operators emit in-query boolean certificates
    the oracle states as literal TRUE; see README)."""
    return dict(catalog.ORACLES)
