"""Storage-format breadth: ORC and JSONL sinks/sources round-tripped
through the driver gate.

The engine's warehouse is parquet (``sources/parquet_io.py``), but a
complete Spark-native engine reads and writes the other first-class
columnar/row formats too. ``format_roundtrip_orc_jsonl`` proves both
directions with a strict non-certificate check: the documents table is
written to ORC *and* JSON-lines, both are read back, and the two
re-reads are inner-joined on EVERY column — any value a format
mangled (unicode escaping in JSON, type mapping in ORC) drops that row
from the join and fails the driver's row-count/hash compare against
the plain ``SELECT * FROM documents`` oracle.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "format_roundtrip_orc_jsonl",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def format_roundtrip_orc_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents to ORC and JSONL, read both back, and return
    only the rows whose every column survived BOTH round-trips
    (all-column inner join of the two re-reads). Lossless formats =>
    identical to the source table; any corruption shows up as a
    missing/mismatched row against the oracle.

    Scale note: both writers inherit the source partitioning (one
    task per input split, no shuffle); the all-column equi-join hashes
    on doc_id-led keys like any other join. The sink lands under the
    repo's own warehouse dir keyed by sf (the harness CWD must stay
    clean)."""
    docs = read_table(spark, sf_dir, "documents").select(*_DOC_COLS)
    repo_root = Path(__file__).resolve().parents[2]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    orc_path = str(repo_root / "spark-warehouse" / f"docs_orc_{tag}")
    json_path = str(repo_root / "spark-warehouse" / f"docs_jsonl_{tag}")
    docs.write.mode("overwrite").orc(orc_path)
    docs.write.mode("overwrite").json(json_path)
    orc = spark.read.schema(_DOC_SCHEMA).orc(orc_path)
    jsonl = spark.read.schema(_DOC_SCHEMA).json(json_path)
    return orc.join(jsonl, on=_DOC_COLS, how="inner").select(*_DOC_COLS)


# --- schema evolution ----------------------------------------------------

_EVOLVE_CUTOFF = "1996-01-01"


_EVOLVE_ORACLE = f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_channel
    FROM orders WHERE o_orderdate < DATE '1996-01-01'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
    FROM orders WHERE o_orderdate >= DATE '1996-01-01'
"""


@query("format_schema_evolution", _EVOLVE_ORACLE)
def format_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: the warehouse's orders table was written
    in two generations — v1 (3 columns) and v2 (v1 + a new
    ``o_channel`` column) — and a single ``mergeSchema`` read must
    union them with NULLs for v1's missing column. This is the lake
    reality every long-lived pipeline hits: old partitions never get
    rewritten. Both generations derive deterministically from orders
    (split at 1996-01-01), so the oracle restates the merged
    result exactly; the check is strict (no certificate).

    Scale: two generation writes inherit source partitioning;
    the merged scan is still one parquet scan with a unioned footer
    schema — mergeSchema costs a footer pass, not a data pass.
    """
    orders = read_table(spark, sf_dir, "orders")
    repo_root = Path(__file__).resolve().parents[2]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = repo_root / "spark-warehouse" / f"orders_evolved_{tag}"
    v1 = orders.filter(F.col("o_orderdate") < _EVOLVE_CUTOFF).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderdate") >= _EVOLVE_CUTOFF).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("web"))
        .otherwise(F.lit("store"))
        .alias("o_channel"),
    )
    v1.write.mode("overwrite").parquet(str(base / "gen=1"))
    v2.write.mode("overwrite").parquet(str(base / "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(base / "gen=1"), str(base / "gen=2")
    )
    return merged.select("o_orderkey", "o_custkey", "o_totalprice", "o_channel")
