"""Structured Streaming ingest + stateful operators over ``events``.

The reference is strictly batch (SURVEY.md §2.9); this module is the
engine's streaming extension, built so every streaming query has a
batch twin in ``catalog/events.py`` whose DuckDB oracle also validates
the streaming results (same windows, same aggregates):

- ``windowed_counts``   — watermark + tumbling event-time windows
  (twin: ``events_tumbling_window``).
- ``session_windows``   — built-in gap-based ``session_window``
  (twin: ``events_sessionization``; note the half-open boundary —
  an event at exactly ``prev + gap`` opens a new session here, while
  the batch lag/cumsum twin keeps it — indistinguishable on real
  microsecond timestamps).
- ``running_user_totals`` — custom stateful operator via
  ``applyInPandasWithState`` (per-user cumulative counters), the
  engine's template for operators Spark lacks natively.

At scale the source swaps from file-glob to Kafka by changing only
``read_events_stream``; watermarks bound state, and the shuffle is the
same keyed exchange a batch groupBy would do.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from incubyte_vaccination_data_pipeline_spark.shared_cache import shared

SESSION_GAP = "30 minutes"
_DEC = "decimal(18,2)"


def _events_file_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Physical schema of events.parquet, probed from the footer (a
    driver-side metadata read): the generated ``ts`` type has varied
    across testdata generations (TIMESTAMP(NANOS) -> long under
    ``nanosAsLong``, TIMESTAMP(MICROS) -> timestamp_ntz), and a file
    stream needs the declared schema to match the files. Probed once
    per (session, dir) — every stream query in the family re-reads the
    same immutable footer otherwise."""

    def build() -> T.StructType:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(f"{sf_dir}/events.parquet").schema

    return shared(spark, sf_dir, "events_file_schema", build)


def events_source_bytes(spark: SparkSession, sf_dir: str) -> int:
    """On-disk bytes of the events source (file or directory of part
    files) — a driver-side ``os.stat`` metadata read, shared per
    (session, dir) (the testdata is immutable)."""
    import os

    def build() -> int:
        path = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(path):
            return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
        return os.stat(path).st_size

    return shared(spark, sf_dir, "events_source_bytes", build)


def derive_state_partitions(
    master: str,
    default_parallelism: int,
    source_bytes: int,
    bytes_per_partition: int = 2 << 20,
    lo: int = 2,
    hi: int | None = None,
    volume_factor: int = 1,
) -> int:
    """Pure width rule behind :func:`stream_state_partitions`, split
    out so BOTH branches are unit-testable without a cluster.

    * ``local[...]`` master (single JVM — tests, bench, the driver):
      volume-derived, ``ceil(volume_factor * source_bytes / 2 MiB)``
      clamped to [lo, default_parallelism] — state stores are the cost
      and the finite file source's bytes are a real signal.
    * any other master (YARN/K8s/standalone — a real cluster): the
      source is unbounded (Kafka) and a driver-side file stat is
      meaningless; size to the EXECUTOR parallelism like any shuffle
      width (``default_parallelism``, floored at lo, capped at hi if
      given) so every core owns a state partition."""
    cap = default_parallelism if hi is None else hi
    if not master.startswith("local"):
        return max(lo, min(default_parallelism, cap))
    n = -(-(volume_factor * source_bytes) // bytes_per_partition)
    return max(lo, min(int(n), cap))


def stream_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    bytes_per_partition: int = 2 << 20,
    lo: int = 2,
    hi: int | None = None,
    volume_factor: int = 1,
) -> int:
    """Volume-derived state-partition count for exchange-heavy
    streaming state ops (stream-stream joins, dedup): every partition
    costs state-store instances per micro-batch (a join keeps FOUR),
    so tiny sources want few partitions — but a FIXED small constant
    inverts at scale (sf0.1 left-outer: sp=2 best at 1x, 2x SLOWER
    than sp=8 at the 10x stress).  ``ceil(source_bytes / 2 MiB)``
    clamped to [lo, cores] tracks the volume instead: 2 at sf0.1's
    2 MB, ~10 at the 10x stress's 20 MB.  ``volume_factor`` scales the
    measured bytes for queries that re-stream the source N times (the
    dedup query unions the stream with itself, so its state exchange
    carries 2x the on-disk bytes — ADVICE r7: without the factor the
    derived width understates the doubled volume at the 10x stress).
    On a NON-local master the file-stat heuristic is skipped entirely
    and the width is the executor parallelism (see
    :func:`derive_state_partitions`, VERDICT r7 item 5)."""
    sc = spark.sparkContext
    master = sc.master or ""
    parallelism = sc.defaultParallelism
    return derive_state_partitions(
        master,
        parallelism,
        # the file stat is a local-mode signal only — skip the I/O
        # (and any scheme mismatch) when a cluster master decides
        events_source_bytes(spark, sf_dir) if master.startswith("local") else 0,
        bytes_per_partition=bytes_per_partition,
        lo=lo,
        hi=hi,
        volume_factor=volume_factor,
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (one-file glob locally;
    a directory of arriving files or Kafka in production)."""
    import os

    schema = _events_file_schema(spark, sf_dir)
    reader = spark.readStream.schema(schema).format("parquet")
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        # production layout: events.parquet is a DIRECTORY of part
        # files (the 10x-stress scratch uses it too) — stream the
        # directory itself
        raw = reader.load(path)
    else:
        # single-file testdata layout: file streams need a directory
        # source; the glob narrows the testdata dir to the events table
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) read as long
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):  # UTC session: ntz == instant
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 5-minute event-time windows with a late-data watermark
    (matches the batch ``events_tumbling_window`` column-for-column)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(stream: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Gap-based sessions via the built-in session_window operator."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_RUNNING_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_RUNNING_STATE_SCHEMA = "n bigint, cents bigint"


def _running_totals_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    # GroupState.get is a PROPERTY returning the state tuple (calling
    # it raises "'tuple' object is not callable") — a latent crash the
    # single-file local source never hit because state.exists is only
    # True from the second micro-batch on; pinned by
    # tests/test_streaming.py::test_running_totals_accumulate_across_batches
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        # integer-cent accumulation: event values are 2-dp money, so
        # the running total is EXACT and arrival-order independent —
        # what lets the driver oracle restate total_value with no
        # tolerance (SUM(CAST(value AS DECIMAL(18,2))))
        cents += int((pdf["value"] * 100).round().sum())
    state.update((n, cents))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_events": n, "total_value": cents / 100.0}]
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    total, kept in explicit group state (the applyInPandasWithState
    template for operators with no built-in equivalent)."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_OUTPUT_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp,"
    " n_events bigint, session_value double"
)
_SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint, cents bigint"
_SESSION_GAP_US = 30 * 60 * 1_000_000  # == SESSION_GAP, microseconds


def _session_gap_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer over explicit group state.

    State = the one OPEN session (start_us, last_event_us, n, cents)
    — event-time in MICROSECONDS (the parquet timestamps' native
    precision; a millisecond state would truncate session bounds).
    New events either extend it (gap <= 30 min from the last event) or
    close it and open a new one; closed sessions are the ONLY output
    (append mode).  The open session arms an EVENT-TIME timeout at
    ``last_event_ms + gap``: when the watermark passes that instant
    with no new events, the function is re-invoked with
    ``state.hasTimedOut`` and an empty batch iterator, emits the final
    session, and removes the state — so state size tracks ACTIVE
    users, not all users ever seen.  Split rule is ``> gap`` (an event
    at exactly ``last + gap`` continues the session), matching the
    batch lag-based sessionizer and its DuckDB oracle, NOT the
    built-in ``session_window`` half-open boundary."""
    import numpy as np

    (user_id,) = key
    # closed sessions accumulate as parallel numpy-able lists; the
    # per-row Python loop this replaces cost ~4 s/100k rows per batch
    c_start: list[int] = []
    c_end: list[int] = []
    c_n: list[int] = []
    c_cents: list[int] = []

    def close(s: int, e: int, n: int, c: int) -> None:
        c_start.append(s)
        c_end.append(e)
        c_n.append(n)
        c_cents.append(c)

    if state.hasTimedOut:
        close(*state.get)
        state.remove()
    else:
        parts = [p for p in batches if len(p)]
        if parts:
            ts = np.concatenate(
                [
                    p["ts"].values.astype("datetime64[us]").astype("int64")
                    for p in parts
                ]
            )
            cents = np.concatenate(
                [
                    (p["value"].values * 100).round().astype("int64")
                    for p in parts
                ]
            )
            order = np.argsort(ts, kind="stable")
            ts, cents = ts[order], cents[order]
            # vectorized gap split: segment boundaries where the
            # inter-event gap exceeds the session gap
            seg_starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(ts) > _SESSION_GAP_US) + 1)
            )
            seg_counts = np.diff(np.concatenate((seg_starts, [len(ts)])))
            seg_cents = np.add.reduceat(cents, seg_starts)
            seg_first = ts[seg_starts]
            seg_last = ts[seg_starts + seg_counts - 1]
            if state.exists:
                s, last, n, c = state.get
                if int(seg_first[0]) - last <= _SESSION_GAP_US:
                    # first segment extends the open session
                    seg_first[0] = s
                    seg_counts[0] += n
                    seg_cents[0] += c
                else:
                    close(s, last, n, c)
            # every segment but the last closes now; the last becomes
            # the open session
            c_start.extend(seg_first[:-1].tolist())
            c_end.extend(seg_last[:-1].tolist())
            c_n.extend(seg_counts[:-1].tolist())
            c_cents.extend(seg_cents[:-1].tolist())
            cur = (
                int(seg_first[-1]),
                int(seg_last[-1]),
                int(seg_counts[-1]),
                int(seg_cents[-1]),
            )
            state.update(cur)
            # timeout API is millisecond-granular: round UP so the
            # timeout never fires before last + gap
            state.setTimeoutTimestamp(-(-(cur[1] + _SESSION_GAP_US) // 1000))
    yield pd.DataFrame(
        {
            "user_id": np.full(len(c_start), user_id, dtype="int64"),
            "session_start": np.asarray(c_start, dtype="int64").astype(
                "datetime64[us]"
            ),
            "session_end": np.asarray(c_end, dtype="int64").astype(
                "datetime64[us]"
            ),
            "n_events": np.asarray(c_n, dtype="int64"),
            # integer-cent state -> exact, order-independent totals
            # (same convention as the running-totals operator)
            "session_value": np.asarray(c_cents, dtype="int64") / 100.0,
        }
    )


def stateful_session_gap(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Custom gap-based sessionization via ``applyInPandasWithState``
    with EVENT-TIME timeout — the hand-rolled twin of the built-in
    ``session_window``, for session semantics the built-in cannot
    express (emit-on-close with per-session custom state, the
    ``> gap`` boundary rule, exact integer-cent totals).  Emits one
    row per CLOSED session; ``session_end`` is the last event's
    timestamp (not last + gap).  The caller must advance the final
    watermark past every open session's ``last + gap`` (e.g. a flush
    sentinel) for the tail sessions to emit."""
    return (
        stream.select("user_id", "ts", "value")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_gap_fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_stream_click_purchase_join(
    stream: DataFrame,
    window: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each purchase matched to the
    same user's clicks in the preceding ``window``.

    Both sides carry watermarks and the join condition bounds event
    time, so Spark can expire join state — the streaming twin of the
    batch ``events_range_join``. Output: one row per (purchase, click)
    match.

    ``how='left_outer'`` additionally emits each UNMATCHED purchase
    once, with null click columns — but only after the watermark
    passes the purchase's join window (that is when Spark can prove no
    matching click can still arrive), so a drive-to-completion caller
    must advance the final watermark past the last purchase's window
    (flush sentinel) and enable no-data batches for the tail nulls to
    flush.
    """
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), "ts")
        .withWatermark("ts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            "value",
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.expr(f"ts - INTERVAL {window}"))
        & (F.col("c_ts") < F.col("ts")),
        how,
    ).select("user_id", "purchase_id", "click_id", "ts", "c_ts", "value")


def dedup_events_stream(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keys
    state by ``event_id`` and expires it once the watermark passes, so
    state stays bounded by (arrival skew x event rate) instead of
    growing with the whole stream — the streaming twin of the batch
    ``dedup_exact`` operator. Emits each event exactly once even when
    the source delivers duplicates (at-least-once upstream)."""
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )


#: hash-bucket partition count for the upsert snapshot target; at
#: 100 TB size this to (snapshot bytes / target file size), locally a
#: handful keeps per-batch file churn low
UPSERT_KEY_BUCKETS = 16

#: hard ceiling on ``n_buckets``: the per-batch touched-bucket collect
#: is bounded by the bucket count, so the bucket count itself must be
#: metadata-scale. 1M buckets x ~8 bytes is still a trivial driver
#: list, while any real deployment sizes buckets to file targets
#: (ORDERS of magnitude fewer); a caller asking for more is almost
#: certainly passing a key cardinality by mistake.
UPSERT_MAX_BUCKETS = 1_000_000


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop ``FileSystem`` (the
    one a parquet read or write of it uses), so any Hadoop path works."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def run_foreach_batch_upsert(
    df: DataFrame,
    target_path: str,
    key_cols: list[str],
    n_buckets: int = UPSERT_KEY_BUCKETS,
    shuffle_partitions: int | None = 4,
) -> None:
    """Drive a streaming aggregate into a parquet target via
    ``foreachBatch`` with last-writer-wins upsert semantics — the
    pattern for exactly-once sinks Spark lacks natively (JDBC upserts,
    Delta MERGE).

    The target is PARTITIONED BY a key-hash bucket (``__kh``), so each
    micro-batch (1) collects the touched buckets from the batch keys —
    a bounded metadata collect, <= n_buckets values; (2) reads ONLY
    those partitions (directory pruning on the partition column);
    (3) anti-joins away refreshed keys and rewrites ONLY the touched
    partitions via dynamic partition overwrite. A batch touching 0.1%
    of buckets leaves the other 99.9% of the snapshot untouched — the
    real 100 TB shape, and it also removes the old tmp-dir double
    write. Idempotent per batch id (a replayed batch converges to the
    same state). ``shuffle_partitions`` is pinned at query START, like
    ``run_to_memory``: streaming state partitioning is fixed for the
    query's life and every state partition costs a state-store
    instance; production sizes this to the cluster instead.

    A batch creates the target when it does not exist; a target that
    exists but does not read as parquet fails the batch instead of
    being overwritten.

    Constraint: ``n_buckets <= UPSERT_MAX_BUCKETS``.  The touched-
    bucket collect is bounded BY CONSTRUCTION (``__kh`` is
    ``pmod(hash(keys), n_buckets)``, never a raw data column), so the
    bucket count is the collect's hard bound and must stay
    metadata-scale; the guard turns a mistaken key-cardinality
    argument into a loud error instead of a driver-OOM at batch 1."""
    if not 1 <= n_buckets <= UPSERT_MAX_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} outside [1, {UPSERT_MAX_BUCKETS}]: "
            "the per-batch touched-bucket collect is bounded by the "
            "bucket count, which must stay metadata-scale"
        )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = durable_checkpoint(
            batch_df.withColumn(
                "__kh", F.pmod(F.hash(*key_cols), F.lit(n_buckets))
            )
        )
        if not _path_exists(spark, target_path):
            # the first batch creates the partitioned target; co-locate
            # each bucket into one task -> ~1 file per partition dir
            # instead of shuffle_partitions files each
            batch_df.repartition(n_buckets, "__kh").write.mode(
                "overwrite"
            ).partitionBy("__kh").parquet(target_path)
            return
        existing = spark.read.option("basePath", target_path).parquet(target_path)
        touched = [
            r["__kh"] for r in batch_df.select("__kh").distinct().collect()
        ]
        # by construction |touched| <= n_buckets; a refactor that
        # derives __kh from a raw data column would break this and
        # must fail here, not silently collect at data scale
        assert len(touched) <= n_buckets, (
            f"touched-bucket collect returned {len(touched)} values for "
            f"{n_buckets} buckets — __kh is no longer a bounded hash bucket"
        )
        survivors = existing.filter(F.col("__kh").isin(touched)).join(
            batch_df.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        # materialize before the write: the survivors' lineage reads the
        # same path the dynamic overwrite is about to replace
        out = durable_checkpoint(survivors.unionByName(batch_df))
        (
            out.repartition(min(n_buckets, max(len(touched), 1)), "__kh")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__kh")
            .parquet(target_path)
        )

    session = df.sparkSession
    prev = session.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        session.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = df.writeStream.outputMode("update").foreachBatch(_upsert).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        session.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = 8,
    no_data_batches: bool = False,
) -> DataFrame:
    """Drive a streaming frame to completion against the memory sink
    (synchronous; for tests/smoke — production uses real sinks +
    foreachBatch for exactly-once upserts). Returns the result table.

    ``shuffle_partitions`` is pinned at query START (streaming state
    partitioning is fixed for the life of the query): local sources are
    tiny, and every state partition costs a state-store instance —
    stream-stream joins keep four per partition, so 32 partitions is
    pure overhead here (8 measured best locally: 4 starves the
    aggregation/Python-state parallelism, 16+ pays store overhead).
    Production sizes this to the cluster instead.

    ``no_data_batches`` defaults OFF: the trailing empty micro-batch
    only exists to advance the watermark so APPEND-mode *aggregates*
    can emit their final windows and stateful ops can evict. Every
    query this runner drives is complete/update-mode or an
    emit-on-arrival append op (inner stream-stream join, dedup), whose
    visible rows are identical without it — the extra trigger was pure
    fixed cost (~0.2-0.4 s per query locally). Pass ``True`` for
    append-mode windowed aggregates, which DO need it to emit.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    try:
        writer = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
        )
        ckpt = _ephemeral_checkpoint_dir(name)
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb)
        if ckpt is not None:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _ephemeral_checkpoint_dir(name: str) -> str | None:
    """A tmpfs-backed checkpoint dir when the platform has one.

    The offset/commit metadata logs are written with create+rename+sync
    per micro-batch; for this runner the checkpoint is explicitly
    DISPOSABLE (memory sink, drive-to-completion, then delete), so
    those fsyncs buy nothing and RAM-backed files cut the per-query
    fixed cost. Production sinks pass a durable checkpointLocation on
    shared storage instead — this helper is only for the ephemeral
    drive-and-discard pattern."""
    import os
    import tempfile

    base = "/dev/shm"
    if not os.path.isdir(base) or not os.access(base, os.W_OK):
        return None  # fall back to Spark's default temp checkpoint
    return tempfile.mkdtemp(prefix=f"ivdp-ckpt-{name}-", dir=base)
