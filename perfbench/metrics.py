"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` lists the same metrics; ``tests/test_logic.py``
checks that the two agree. Every workload emits every name: a layer a
workload does not exercise reads 0 there (the ETL counters on the
catalog workloads, the family timings on the ETL workload).
"""

from __future__ import annotations

from perfbench.stats import FAMILIES

#: (name, unit, better); measured with tracing off
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
)

ETL_STEPS = (
    "load_source_data", "validate_types", "write_dead_letter",
    "write_warehouse", "register_country_views",
)

#: (name, unit, better); measured by the traced run
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.import_s", "s", "lower"),
    ("build.s", "s", "lower"),
    ("build.py4j_calls", "count", "lower"),
    ("build.py4j_calls_p50", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.s_per_job", "s", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("cache.entries", "count", "lower"),
    ("cache.persistent_rdds", "count", "lower"),
    ("cache.storage_bytes", "bytes", "lower"),
    ("cache.released", "count", "higher"),
    ("cache.entries_after_release", "count", "lower"),
    ("cache.persistent_rdds_after_release", "count", "lower"),
    ("warmup.s", "s", "lower"),
    *(
        (f"family.{f}.{m}", unit, "lower")
        for f in FAMILIES
        for m, unit in (("s", "s"), ("jobs", "count"))
    ),
    *((f"etl.{step}_s", "s", "lower") for step in ETL_STEPS),
    ("etl.views_s", "s", "lower"),
    ("etl.rows_in", "count", "higher"),
    ("etl.rows_dead", "count", "lower"),
    ("etl.rows_dropped", "count", "lower"),
    ("etl.rows_warehouse", "count", "higher"),
    ("etl.rows_views", "count", "higher"),
    ("etl.valid_frac", "frac", "higher"),
    ("etl.rows_per_s", "1/s", "higher"),
    ("etl.csv_bytes", "bytes", "lower"),
    ("etl.read_amplification", "ratio", "lower"),
    ("etl.bytes_written", "bytes", "lower"),
    ("etl.jobs", "count", "lower"),
    ("etl.shuffle_write_bytes", "bytes", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
