#!/usr/bin/env python
"""Round-end preflight: the driver-faithful checks, one command.

Runs (in order, stopping on first failure unless --keep-going):

1. fresh-process driver contract — a PLAIN SparkSession (driver
   shape) imports __spark_entry__, runs entry(), and checks
   queries()/oracle_sql() key parity;
2. committed-state checks — registry, inventory, fingerprints
   (pytest test_registry.py + test_fingerprints.py);
3. plain-session DuckDB oracle sweep at the driver's compare SF
   (sf0.01) — the exact driver environment;
4. bench at sf0.1 — prints the total; BENCH_local.json is replaced
   only when the run is comparable (see bench.py).

Usage: python scripts/preflight.py [--keep-going] [--skip-bench]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRY_CHECK = """
from pyspark.sql import SparkSession
import __spark_entry__ as e
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
df = e.entry(spark)
rows = df.collect()
assert rows, "entry() returned no rows"
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) == set(qs), "queries()/oracle_sql() key mismatch"
print(f"entry OK: {len(rows)} rows, {len(qs)} queries, oracles aligned")
"""


def run(name: str, cmd: list[str], env: dict | None = None) -> bool:
    print(f"\n=== {name} ===", flush=True)
    e = dict(os.environ)
    e.update(env or {})
    proc = subprocess.run(cmd, cwd=REPO, env=e)
    ok = proc.returncode == 0
    print(f"=== {name}: {'PASS' if ok else 'FAIL'} ===", flush=True)
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keep-going", action="store_true")
    ap.add_argument("--skip-bench", action="store_true")
    args = ap.parse_args()

    steps: list[tuple[str, list[str], dict]] = [
        ("driver contract (fresh plain process)", [sys.executable, "-c", ENTRY_CHECK], {}),
        (
            "registry + fingerprints",
            [sys.executable, "-m", "pytest", "tests/test_registry.py",
             "tests/test_fingerprints.py", "-q"],
            {},
        ),
        (
            "plain-session oracle sweep @ sf0.01",
            [sys.executable, "-m", "pytest", "tests/test_oracle.py", "-q"],
            {
                "SPARK_GRAFT_PLAIN_SESSION": "1",
                "SPARK_GRAFT_TEST_SF_DIR": "/root/testdata/sf0.01",
            },
        ),
    ]
    if not args.skip_bench:
        steps.append(("bench @ sf0.1", [sys.executable, "bench.py"], {}))

    failed = []
    for name, cmd, env in steps:
        if not run(name, cmd, env):
            failed.append(name)
            if not args.keep_going:
                break
    print("\npreflight:", "ALL PASS" if not failed else f"FAILED: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
