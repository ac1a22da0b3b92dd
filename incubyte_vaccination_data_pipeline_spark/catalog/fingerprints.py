"""Plan fingerprints: each query's proof of identical behaviour.

A query's fingerprint is sha256 (16 hex chars) over its normalized
analyzed logical plan at sf0.001 plus its oracle SQL. The plan string
captures every code path that shapes the computation (operator helpers
included), so a rewrite in a shared module changes the fingerprints of
exactly the queries it affects, and a refactor that keeps every
fingerprint has kept every query's computation.

``query_fingerprints.json`` (repo root) is a flat ``{name: fingerprint}``
map. ``tests/test_fingerprints.py::test_committed_fingerprints_current``
recomputes every fingerprint against it, so a plan or oracle change
without a refresh reddens the suite. Refresh with::

    python -m incubyte_vaccination_data_pipeline_spark.catalog.fingerprints

Importing the catalog does not load this module.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

FP_FILE = Path(__file__).resolve().parents[2] / "query_fingerprints.json"
FP_SF_DIR = "/root/testdata/sf0.001"


def normalize_plan(plan: str) -> str:
    """Strip the session-unique noise out of an analyzed-plan string so
    the same logical computation fingerprints identically across
    processes and boxes: expression ids (``#123``), lambda-variable
    counters (``lambda x_6``), absolute paths (testdata dirs, streaming
    temp sinks), long hex/UUID tokens, and the partition count of a
    ``RepartitionByExpression`` (``operators/partitioning.fanout_repartition``
    derives it from the core count; the keys stay).  The path regex
    requires the ``/`` to start a token so mime literals like
    ``text/plain`` survive as plan content."""
    s = re.sub(r"#\d+", "#", plan)
    s = re.sub(r"(?m)(RepartitionByExpression \[.*\]), \d+$", r"\1, <n>", s)
    s = re.sub(r"(?i)\blambda ([a-z]+)_\d+", r"lambda \1", s)
    s = re.sub(r"(?<![\w.])(file:)?/[^\s,)\]]+", "<path>", s)
    s = re.sub(
        r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b",
        "<uuid>",
        s,
    )
    s = re.sub(r"\b[0-9a-f]{16,}\b", "<hex>", s)
    return s


def compute_fingerprint(spark, name: str) -> str:
    """sha256 (16 hex chars) over the normalized analyzed plan at
    sf0.001 + the oracle SQL.  Building the DataFrame is cheap for
    lazy queries; eager ones (streaming, IVF build) pay their build,
    which the local suite pays anyway."""
    from incubyte_vaccination_data_pipeline_spark.catalog import ORACLES, QUERIES

    df = QUERIES[name](spark, FP_SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString()
    payload = normalize_plan(plan) + "\n--oracle--\n" + ORACLES.get(name, "")
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def load_fingerprints(path: Path = FP_FILE) -> dict[str, str]:
    """The committed ``{name: fingerprint}`` map; empty when the file is
    missing or not such a map, non-string values dropped."""
    try:
        data = json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return {}
    if not isinstance(data, dict):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def refresh_fingerprints(spark) -> dict[str, str]:
    """Recompute every registered query's fingerprint and write the map."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    fps = {name: compute_fingerprint(spark, name) for name in sorted(QUERIES)}
    FP_FILE.write_text(json.dumps(fps, indent=1) + "\n")
    return fps


if __name__ == "__main__":  # pragma: no cover - maintenance entry point
    from incubyte_vaccination_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ivdp-fingerprints", shuffle_partitions=8)
    print(f"wrote {FP_FILE} with {len(refresh_fingerprints(spark))} entries")
