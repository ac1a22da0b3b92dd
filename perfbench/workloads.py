"""The benchmark's workloads: closed loops, one client issuing one
operation at a time on the engine's tuned ``local[N]`` session.

Each run works on a fresh JVM and times passes from its first until the
measuring time is spent. One pass takes longer than that, so a run times
exactly one pass, JIT compilation and code generation included: an ETL
run as a batch run of the pipeline sees it, a catalog pass after a short
fixed warm-up of other queries (WARMUP_QUERIES). Across runs a first
pass spreads less than a second one, which is shorter and depends more
on how far the JIT got. The outputs of every pass are checked after its
timed region. A traced run times the same pass with spans and Spark
readings around the engine calls, and reports the readings' own time as
its overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.etl_corpus import CorpusSpec, expected_counts, write_corpus
from perfbench.metrics import ETL_STEPS
from perfbench.trace import NullTracer, Py4jCounter, SparkProbe, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    corpus: str | None = None  # catalog corpus under perfbench/data


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_pipeline",
            "the paper's own flow, CSV to validate to dead-letter and warehouse to "
            "per-country views; the only workload that parses dates and writes data",
        ),
        Workload(
            "catalog_sf0.001_cold",
            "catalog queries on trivial data, each pass starting with no shared frame "
            "built, so per-query fixed cost and shared-cache builds set the time",
            corpus="sf0.001",
        ),
    )
}


#: ETL input: 8 countries x this many rows
ETL_ROWS_PER_COUNTRY = 25_000
SMOKE_ETL_ROWS_PER_COUNTRY = 500

#: one catalog pass: one query per family (stats.FAMILIES), the one whose
#: time on a warm sf0.001 pass was nearest its family's median among
#: those whose DuckDB oracle runs in under 0.3 s, measured on a 4-core
#: box. None of them writes outside the session's own warehouse dir
#: (four catalog queries pin their output under the package's
#: ``spark-warehouse/``). The seed only orders them within a pass.
PASS_QUERIES = (
    "agg_bitmap_exact_distinct",
    "ann_ivf_topk",
    "corpus_training_ready",
    "dedup_embedding_cosine",
    "events_asof_join_tolerance",
    "graph_triangle_count",
    "incremental_watermark_ingest",
    "join_full_outer_year_activity",
    "multimodal_decode_roundtrip",
    "q10_returned_items",
    "sample_quality_weighted",
    "stream_dedup_events",
    "text_bpe_merge_candidates",
    "vax_deadletter",
    "window_first_last_nth",
)
#: run once, in this order, untimed, before a catalog run's first pass:
#: cheap queries of ten families, none of them in PASS_QUERIES. They take
#: the JVM past the steepest part of its JIT warming, which the first
#: queries of a pass would otherwise pay in an order the seed sets; each
#: pass query still runs its own plans for the first time.
WARMUP_QUERIES = (
    "q1_pricing_summary",
    "join_broadcast_supplier_nation",
    "window_rank_ntile",
    "events_sessionization",
    "text_token_stats",
    "multimodal_metadata",
    "corpus_padding_waste",
    "dedup_exact",
    "graph_link_prediction",
    "ann_mips_topk",
)
SMOKE_QUERIES = 3

ETL_AS_OF = "2023-01-01"
ETL_LOAD_DATE = "2023-01-01 00:00:00"


# --- results ----------------------------------------------------------------


@dataclass
class Outcome:
    pass_s: list[float] = field(default_factory=list)  # untraced passes
    traced_pass_s: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)  # untraced ops
    attempted: int = 0
    failed: int = 0
    check_failures: list[str] = field(default_factory=list)
    layer_passes: list[dict[str, float]] = field(default_factory=list)
    notes: dict = field(default_factory=dict)
    per_query: dict[str, list[float]] = field(default_factory=dict)  # untraced

    def fail(self, what: str) -> None:
        if len(self.check_failures) < 20:
            self.check_failures.append(what)


def _first_line(exc: BaseException) -> str:
    return (str(exc).strip().splitlines() or [type(exc).__name__])[0][:300]


def _measure(seconds: float, trace: bool, run_pass, load) -> None:
    """``run_pass(trace)`` until ``seconds`` have passed; ``load`` is
    sampled after each pass."""
    t0 = time.perf_counter()
    while True:
        run_pass(trace)
        load.sample()
        if time.perf_counter() - t0 >= seconds:
            return


@contextlib.contextmanager
def _spark_instruments(spark, trace: bool):
    if not trace:
        yield None, None
        return
    counter = Py4jCounter(spark)
    try:
        yield SparkProbe(spark), counter
    finally:
        counter.close()


@contextlib.contextmanager
def _cache_builds(tr):
    """Add to ``tr``'s ``warmup.s`` counter the time spent building
    shared-cache entries: the ``build`` of every ``BoundedCache`` miss
    that is not itself inside another build."""
    from incubyte_vaccination_data_pipeline_spark.shared_cache import BoundedCache

    orig = BoundedCache.get_or_build
    depth = 0

    def get_or_build(self, key, build):
        def timed_build():
            nonlocal depth
            depth += 1
            t0 = time.perf_counter()
            try:
                return build()
            finally:
                depth -= 1
                if depth == 0:
                    tr.add("warmup.s", time.perf_counter() - t0)

        return orig(self, key, timed_build)

    BoundedCache.get_or_build = get_or_build
    try:
        yield
    finally:
        BoundedCache.get_or_build = orig


# --- catalog ----------------------------------------------------------------


def _oracle_frames(sf_dir: str, names: list[str], threads: int):
    import duckdb

    from incubyte_vaccination_data_pipeline_spark import catalog
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: con.execute(catalog.ORACLES[n]).df() for n in names}
    finally:
        con.close()


def oracle_mismatch(spark_df, duck_df) -> str | None:
    """None when the frames agree under the oracle suite's normalization
    (tests/test_oracle.py), else what differs."""
    import pandas as pd

    from tests.test_oracle import _normalize, _values_equal

    if len(spark_df) != len(duck_df):
        return f"row count {len(spark_df)} != oracle {len(duck_df)}"
    if sorted(c.lower() for c in spark_df.columns) != sorted(c.lower() for c in duck_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(duck_df.columns)}"
    spark_df = spark_df.copy()
    duck_df = duck_df.copy()
    spark_df.columns = [c.lower() for c in spark_df.columns]
    duck_df.columns = [c.lower() for c in duck_df.columns]
    s, d = _normalize(spark_df), _normalize(duck_df)
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col], d[col])):
            an, bn = pd.isna(a), pd.isna(b)
            if an and bn:
                continue
            if an != bn or not _values_equal(a, b):
                return f"value mismatch in {col} row {i}: {a!r} != {b!r}"
    return None


def run_catalog(spark, wl: Workload, seed: int, seconds: float, trace: bool,
                smoke: bool, cpus: int, load) -> Outcome:
    from incubyte_vaccination_data_pipeline_spark import catalog
    from incubyte_vaccination_data_pipeline_spark.shared_cache import release_shared_state

    sf_dir = os.path.join(DATA, wl.corpus)
    names = list(PASS_QUERIES[:SMOKE_QUERIES] if smoke else PASS_QUERIES)
    warmup = list(WARMUP_QUERIES[:1] if smoke else WARMUP_QUERIES)
    families = stats.family_map(catalog.QUERIES)
    rng = random.Random(seed)
    out = Outcome()
    out.notes.update(corpus=wl.corpus, queries=names, warmup_queries=warmup)

    # oracle results first, so no timed region waits on DuckDB
    expected = _oracle_frames(sf_dir, warmup + names, cpus)

    def check(name, result, why) -> None:
        if result is not None:
            why = oracle_mismatch(result, expected[name])
        if why is not None:
            out.fail(f"{name}: {why}")
        out.attempted += 1
        out.failed += why is not None

    t0 = time.perf_counter()
    done = []
    for name in warmup:
        try:
            done.append((name, catalog.QUERIES[name](spark, sf_dir).toPandas(), None))
        except Exception as exc:  # counted as failed
            done.append((name, None, "raised: " + _first_line(exc)))
    release_shared_state(sf_dir)
    spark.catalog.clearCache()
    out.notes["jvm_warmup_s"] = time.perf_counter() - t0
    for args in done:
        check(*args)
    load.sample()

    with _spark_instruments(spark, trace) as (probe, counter):

        def run_pass(traced: bool) -> None:
            tr = Tracer() if traced else NullTracer()
            rec: dict[str, float] = {}
            order = rng.sample(names, len(names))
            done = []  # (name, result, why), checked after the pass
            calls_per_build = []
            busy0 = probe.busy_s if traced else 0.0
            tp = time.perf_counter()
            builds = _cache_builds(tr) if traced else contextlib.nullcontext()
            with builds:
                for name in order:
                    busy_q = probe.busy_s if traced else 0.0
                    t0 = time.perf_counter()
                    result = why = None
                    group = probe.new_group(name) if traced else None
                    with tr.span("query"):
                        try:
                            calls0 = counter.calls if traced else 0
                            with tr.span("build"):
                                df = catalog.QUERIES[name](spark, sf_dir)
                            if traced:
                                calls_per_build.append(counter.calls - calls0)
                                with tr.span("catalyst"):
                                    for phase, ms in probe.catalyst_ms(df).items():
                                        _add(rec, f"catalyst.{phase}_ms", ms)
                            with tr.span("exec"):
                                result = df.toPandas()
                        except Exception as exc:  # counted as failed, pass goes on
                            why = "raised: " + _first_line(exc)
                    lat = time.perf_counter() - t0
                    done.append((name, result, why))
                    if traced:
                        fam = families.get(name, "other")
                        _add(rec, f"family.{fam}.s", lat - (probe.busy_s - busy_q))
                        ex = probe.exec_stats(group)
                        for k, v in ex.items():
                            _add(rec, f"exec.{k}", v)
                        _add(rec, f"family.{fam}.jobs", ex["jobs"])
                    else:
                        out.latencies.append(lat)
                        out.per_query.setdefault(name, []).append(lat)
            wall = time.perf_counter() - tp
            busy = probe.busy_s - busy0 if traced else 0.0
            for args in done:  # outside the timed region
                check(*args)
            if traced:
                for k, v in probe.cache_state().items():
                    rec[f"cache.{k}"] = v
            # every pass starts with no shared frame built: release what
            # this one built, outside the timed region
            rec["cache.released"] = release_shared_state(sf_dir)
            if traced:
                after = probe.cache_state()
                rec["cache.entries_after_release"] = after["entries"]
                rec["cache.persistent_rdds_after_release"] = after["persistent_rdds"]
            # frames persisted outside shared_cache survive the release
            # (the count above shows them); drop them too
            spark.catalog.clearCache()
            if not traced:
                out.pass_s.append(wall)
                return
            out.traced_pass_s.append(wall)
            rec["trace.overhead_frac"] = busy / (wall - busy)
            rec["warmup.s"] = tr.counters["warmup.s"]
            self_s = stats.self_times(tr.spans)
            rec["build.s"] = self_s.get("build", 0.0)
            rec["exec.s"] = self_s.get("exec", 0.0)
            rec["build.py4j_calls"] = sum(calls_per_build)
            rec["build.py4j_calls_p50"] = stats.median(calls_per_build or [0])
            out.layer_passes.append(rec)

        _measure(seconds, trace, run_pass, load)
    return out


def _add(rec: dict[str, float], key: str, value: float) -> None:
    rec[key] = rec.get(key, 0.0) + value


# --- ETL --------------------------------------------------------------------


@contextlib.contextmanager
def _spanned(module, names, tr, counter, py4j_steps):
    """Wrap ``module.<name>`` for each name in a span; count py4j calls
    made inside the steps named in ``py4j_steps``."""
    saved = {n: getattr(module, n) for n in names}

    def wrap(n, fn):
        def spanned(*args, **kwargs):
            c0 = counter.calls
            try:
                with tr.span(n):
                    return fn(*args, **kwargs)
            finally:
                if n in py4j_steps:
                    tr.add("build.py4j_calls", counter.calls - c0)

        return spanned

    for n, fn in saved.items():
        setattr(module, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run_etl(spark, wl: Workload, seed: int, seconds: float, trace: bool,
            smoke: bool, scratch: str, load) -> Outcome:
    from incubyte_vaccination_data_pipeline_spark import pipeline

    rows_per_country = SMOKE_ETL_ROWS_PER_COUNTRY if smoke else ETL_ROWS_PER_COUNTRY
    spec = CorpusSpec.from_seed(seed, rows_per_country)
    data_dir = os.path.join(scratch, "etl_csv")
    csv_bytes = write_corpus(spec, data_dir)
    exp = expected_counts(spec)
    out = Outcome()
    out.notes.update(rows=spec.rows, csv_bytes=csv_bytes, spec=spec.__dict__)
    build_steps = ("load_source_data", "validate_types")
    ops = itertools.count()

    with _spark_instruments(spark, trace) as (probe, counter):

        def run_pass(traced: bool) -> None:
            tr = Tracer() if traced else NullTracer()
            dest = os.path.join(scratch, f"etl_out_{next(ops)}")
            wh, dl = os.path.join(dest, "warehouse"), os.path.join(dest, "dead_letter")
            rec: dict[str, float] = {}
            lats = []
            # run_pipeline leaves the dead-letter parse prefix persisted
            # (functions.dates.dead_letter_frame); a later run over the
            # same files would read it instead of the CSVs
            spark.catalog.clearCache()
            busy0 = probe.busy_s if traced else 0.0
            t0 = time.perf_counter()
            with contextlib.ExitStack() as stack:
                if traced:
                    stack.enter_context(_spanned(pipeline, ETL_STEPS, tr, counter, build_steps))
                    stack.enter_context(_cache_builds(tr))
                    group = probe.new_group("etl")
                _, views = pipeline.run_pipeline(
                    spark, data_dir, wh, dl, as_of=ETL_AS_OF, load_date=ETL_LOAD_DATE
                )
            if traced:
                ex = probe.exec_stats(group)
                rec["etl.jobs"] = ex["jobs"]
                rec["etl.shuffle_write_bytes"] = ex["shuffle_write_bytes"]
                rec["etl.read_amplification"] = ex["input_bytes"] / csv_bytes
                for k, v in ex.items():
                    _add(rec, f"exec.{k}", v)
                group = probe.new_group("views")
            counts: dict[str, int] = {}
            with tr.span("views"):
                for v in views:
                    q0 = time.perf_counter()
                    df = spark.table(v)
                    if traced:
                        with tr.span("catalyst"):
                            for phase, ms in probe.catalyst_ms(df).items():
                                _add(rec, f"catalyst.{phase}_ms", ms)
                    counts[v] = df.count()
                    lats.append(time.perf_counter() - q0)
            wall = time.perf_counter() - t0
            if traced:
                busy = probe.busy_s - busy0
                # read before the checks below add jobs of their own
                for k, v in probe.exec_stats(group).items():
                    _add(rec, f"exec.{k}", v)
                probe.new_group("checks")
            # exact checks, outside the timed region
            n_wh = spark.read.parquet(wh).count()
            n_dead = spark.read.parquet(dl).count()
            got = dict(warehouse=n_wh, dead=n_dead, views=counts)
            want = dict(warehouse=exp.warehouse, dead=exp.dead, views=exp.view_rows)
            ok = got == want
            if not ok:
                out.fail(f"etl counts {got} != expected {want}")
            out.attempted += 1
            out.failed += not ok
            if not traced:
                out.pass_s.append(wall)
                out.latencies.extend(lats)
                out.per_query.setdefault("views", []).extend(lats)
                shutil.rmtree(dest)
                return
            self_s = stats.self_times(tr.spans)
            for step in ETL_STEPS:
                rec[f"etl.{step}_s"] = self_s.get(step, 0.0)
            build_s = sum(self_s.get(step, 0.0) for step in build_steps)
            rec.update({
                "etl.views_s": self_s.get("views", 0.0),
                "build.s": build_s,
                "build.py4j_calls": tr.counters["build.py4j_calls"],
                "warmup.s": tr.counters["warmup.s"],
                "exec.s": wall - build_s - busy,
                "etl.rows_in": exp.rows_in,
                "etl.rows_dead": n_dead,
                "etl.rows_dropped": exp.rows_in - n_dead - n_wh,
                "etl.rows_warehouse": n_wh,
                "etl.rows_views": sum(counts.values()),
                "etl.valid_frac": n_wh / exp.rows_in,
                "etl.rows_per_s": exp.rows_in / (wall - busy),
                "etl.csv_bytes": csv_bytes,
                "etl.bytes_written": _tree_bytes(dest),
                "trace.overhead_frac": busy / (wall - busy),
            })
            shutil.rmtree(dest)
            out.traced_pass_s.append(wall)
            out.layer_passes.append(rec)

        _measure(seconds, trace, run_pass, load)
    return out
