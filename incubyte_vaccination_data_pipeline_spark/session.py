"""SparkSession factory tuned for the engine.

Local test posture is ``local[N]`` but every default here is chosen for
the 1000-executor / 100 TB design point: AQE on (runtime coalesce,
skew-join splitting, broadcast demotion), UTC session timezone (so
results are comparable against external oracles), Arrow enabled for the
few pandas-UDF operators, and shuffle partitions sized to the
parallelism actually available instead of the legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "incubyte_vaccination_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from the environment so the
    same code runs under the driver harness (``SPARK_GRAFT_CPUS``) and on
    a real cluster (where ``master`` is supplied by spark-submit).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Engine policy: non-ANSI eval + try_* parsers. Malformed input
        # becomes NULL (then dead-lettered by the validators) instead of
        # failing the job — a 100 TB batch must not abort on one bad cell.
        .config("spark.sql.ansi.enabled", "false")
        # Reliable checkpoints (plans/checkpoints.durable_checkpoint on
        # clusters with a checkpoint dir) leave files behind that
        # unpersist() does not remove. shared_cache.release deletes the
        # files of shared entries at once; for every other checkpoint
        # (per-round loop checkpoints, query-local ones) let the
        # ContextCleaner delete the files once its RDD is
        # garbage-collected, so long-lived sessions don't accumulate
        # them unboundedly.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # PySpark 4's DataFrame-debugging hook wraps EVERY functions/
        # Column/DataFrame call with call-site capture: getActiveSession
        # + conf.get + PySparkCurrentOrigin.set/clear — ~13 py4j
        # round-trips per F.col (~3 ms) instead of 3 (~0.75 ms),
        # measured on this box. That is driver-side plan-CONSTRUCTION
        # overhead multiplied by every expression of every query (guide
        # §1.2 "per-task work" applied to the driver): disabling it cut
        # catalog-wide query-build time ~2x with identical plans and
        # results. Cost: error messages lose the Python call-site line
        # (the JVM stack trace and error class are unchanged). To debug
        # a query interactively, start the session with
        # get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"}); extra_conf is applied after this line, and only when
        # the session is created (getOrCreate keeps an existing
        # session's configs).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # memoize py4j function-handle resolution (2 of 3 round-trips per
    # F.* call re-derive a constant; see py4j_fastpath docstring)
    from incubyte_vaccination_data_pipeline_spark.py4j_fastpath import install

    install()
    return spark
