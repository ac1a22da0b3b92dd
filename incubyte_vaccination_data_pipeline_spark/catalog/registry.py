"""Query registry shared by all catalog domains.

Every named query is ``(spark, sf_dir) -> DataFrame`` plus (usually) a
DuckDB oracle SQL string; the driver runs both sides at sf=0.01 and
hash-compares. Queries without an oracle get rows-only checks
(non-SQL-expressible operators).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

AS_OF = "2002-01-01"  # pinned "today" (order dates end 2001-08)


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
