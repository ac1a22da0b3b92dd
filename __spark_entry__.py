"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's per-country
dedup-latest view with derived columns) at sf0.001. ``queries()`` /
``oracle_sql()`` expose the engine's named operator catalog
(``incubyte_vaccination_data_pipeline_spark/catalog``) in the driver's
verification order.

The driver verifies only the first 50 queries it is handed each round,
so this adapter hands them over least-recently-verified first
(``catalog/verify_rotation.py``): the order is computed from the
committed ``CORRECTNESS_r*.json`` history and ``query_fingerprints.json``
on every call. The library registry itself stays in domain order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import verify_rotation

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.QUERIES["vax_country_view"](spark, SMOKE_SF_DIR)


def _driver_order() -> list[str]:
    """Registered query names, least-recently-verified first. Queries
    whose committed fingerprint differs from the one the driver last
    verified sort as due now (change-aware staleness)."""
    hist = verify_rotation.rebuild_history()
    stale = verify_rotation.effective_stale_set(hist=hist)
    return verify_rotation.rotation_order(list(catalog.QUERIES), hist, stale)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: catalog.QUERIES[name] for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for every query
    (non-SQL-expressible operators emit in-query boolean certificates
    the oracle states as literal TRUE; see README)."""
    return {
        name: catalog.ORACLES[name]
        for name in _driver_order()
        if name in catalog.ORACLES
    }
