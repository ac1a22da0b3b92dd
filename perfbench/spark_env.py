"""Process environment, session launch and teardown for one benchmark run.

All on-disk state of a run lives under one scratch directory inside the
checkout: Spark's local dirs, the SQL warehouse, the JVM's and Python's
temp files (the catalog's stream flush dirs use ``tempfile``), and the
ETL corpus and outputs. No checkpoint dir is set, so
``plans.checkpoints.durable_checkpoint`` takes its local path, whose
blocks live under the local dirs.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

PACKAGE = "incubyte_vaccination_data_pipeline_spark"

#: a run launches the session this many times and reports the median
#: launch; all but the last launch are stopped at once
SETUPS = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare(root: str, scratch: str) -> None:
    """Point every temp and output location of this process (and of the
    JVM and Python workers it will start) into ``scratch``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    # Python workers are started by the JVM with its environment: give
    # them the package explicitly, whatever the working directory
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]


def launch(scratch: str):
    """Start a JVM and a tuned session through the engine's factory."""
    from incubyte_vaccination_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit, so the next :func:`launch` starts a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_setup(scratch: str):
    """Launch the session :data:`SETUPS` times, keeping the last, then
    import the catalog. Returns (spark, launch seconds of each launch,
    import seconds). The engine's modules are imported before the first
    launch is timed, so every launch does the same work."""
    import importlib

    importlib.import_module(PACKAGE + ".session")
    launches = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = launch(scratch)
        launches.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            shutdown(spark)
    t0 = time.perf_counter()
    importlib.import_module(PACKAGE + ".catalog")
    return spark, launches, time.perf_counter() - t0


def host_facts(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }
