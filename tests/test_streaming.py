"""Streaming correctness: every streaming query must agree with its
batch twin (which is itself DuckDB-oracled in catalog/events.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
    running_user_totals,
    session_windows,
    windowed_counts,
)


def _rows(df, *key):
    return sorted(tuple(r) for r in df.select(*key).collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    streamed = run_to_memory(windowed_counts(stream), "t_stream_win")
    batch = QUERIES["events_tumbling_window"](spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(streamed, *cols) == _rows(batch, *cols)


def test_stream_sessions_agree_with_batch_sessionization(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    streamed = run_to_memory(session_windows(stream), "t_stream_sess")
    batch = QUERIES["events_sessionization"](spark, sf_dir)
    # same number of sessions per user and same total events
    s = sorted(
        tuple(r)
        for r in streamed.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    )
    assert s == b


def test_stateful_running_totals(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(running_user_totals(stream), "t_stream_state", "update")
    # one final state row per user (single micro-batch over the file)
    per_user = {r["user_id"]: r for r in out.collect()}
    batch = (
        QUERIES["events_json_extract"](spark, sf_dir)  # any events read
        .sparkSession.read.parquet(f"{sf_dir}/events.parquet")
    )
    # independent ground truth via a plain batch aggregation
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    truth = {
        r["user_id"]: r
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("tv"))
        .collect()
    }
    assert set(per_user) == set(truth)
    for uid, row in per_user.items():
        assert row["n_events"] == truth[uid]["n"]
        assert abs(row["total_value"] - float(truth[uid]["tv"])) < 1e-3


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch upsert: streaming per-user totals land in parquet
    with last-writer-wins keys and match the batch ground truth."""
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table
    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_foreach_batch_upsert,
    )

    target = str(tmp_path / "upsert_target")
    stream = read_events_stream(spark, sf_dir)
    totals = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    run_foreach_batch_upsert(totals, target, key_cols=["user_id"])

    landed = {r["user_id"]: r for r in spark.read.parquet(target).collect()}
    truth = {
        r["user_id"]: r
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("tv"))
        .collect()
    }
    assert set(landed) == set(truth)
    for uid, row in landed.items():
        assert row["n_events"] == truth[uid]["n"]
        assert abs(row["total_value"] - float(truth[uid]["tv"])) < 1e-3


def test_stream_stream_join_matches_batch_range_join(spark, sf_dir):
    """Watermarked stream-stream join produces the same matches as the
    batch range join (events_range_join counts per purchase)."""
    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        stream_stream_click_purchase_join,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_click_purchase_join(stream)
    out = run_to_memory(joined, "t_ss_join", "append")
    streamed = {
        (r["user_id"], r["purchase_id"]): r["n"]
        for r in out.groupBy("user_id", "purchase_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = {
        (r["user_id"], r["event_id"]): r["n_clicks"]
        for r in QUERIES["events_range_join"](spark, sf_dir).collect()
        if r["n_clicks"] > 0
    }
    assert streamed == batch


def test_cli_entry_runs_pipeline(tmp_path):
    """python -m incubyte_vaccination_data_pipeline_spark <data> <out> — C1 parity."""
    import subprocess
    import sys

    from tests.test_pipeline import AUS_CSV, IND_CSV, USA_CSV

    d = tmp_path / "data"
    d.mkdir()
    (d / "IND (1) 1(in).csv").write_text(IND_CSV)
    (d / "USA (1) 1(in).csv").write_text(USA_CSV)
    (d / "AUS (1) 1(Sheet1).csv").write_text(AUS_CSV)
    out = tmp_path / "out"
    r = subprocess.run(
        [
            sys.executable, "-m", "incubyte_vaccination_data_pipeline_spark",
            str(d), str(out), "--dead-letter-csv",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env={**__import__("os").environ, "PYTHONPATH": "/root/repo"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "warehouse rows:" in r.stdout
    assert (out / "warehouse").exists() and (out / "dead_letter").exists()
    # C5 parity: a per-run timestamped log file under logs/
    logs = list((tmp_path / "logs").glob("etl_pipeline_*.log"))
    assert logs and logs[0].stat().st_size > 0
    # reference-style dead-letter: timestamped CSV with header
    csvs = list((out / "dead_letter").glob("invalid_records_*.csv/*.csv"))
    assert csvs, "timestamped CSV dead-letter missing"
    assert csvs[0].read_text().splitlines()[0].count(",") >= 2


def test_watermark_drops_late_rows_exactly(spark, tmp_path):
    """STRICT late-data semantics: five files arrive as five
    micro-batches (maxFilesPerTrigger=1, mtime-ordered). Spark only
    drops a late row once its window's state was evicted in a PRIOR
    batch (a row landing in the same batch as the eviction still
    merges — the watermark is a state-eviction bound, not a strict
    input filter), so the straggler is staged one batch after the
    watermark crossing:

      batch1 f1: 3 rows 10:00-10:04    -> wm after = 09:54
      batch2 f2: 1 row 10:30           -> wm 10:20 at batch3 start
      batch3 f3: 1 row 10:32 (filler)  -> 10:00 window EMITTED+EVICTED
      batch4 f4: straggler 10:02       -> window gone: DROPPED
      batch5 f5: 1 row 11:00           -> flushes the 10:30 window
    """
    import datetime as dt
    import os
    import time as _time

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        windowed_counts,
    )

    def mk(ts_list, path, mtime):
        rows = [
            (i, t, 1, "view", 1.0, "{}") for i, t in enumerate(ts_list)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    base = _time.time() - 1000
    src = tmp_path / "arrivals"
    mk([m(0), m(2), m(4)], str(src / "f1"), base + 10)
    mk([m(30)], str(src / "f2"), base + 20)
    mk([m(32)], str(src / "f3"), base + 30)
    mk([m(2)], str(src / "f4"), base + 40)   # the straggler
    mk([m(60)], str(src / "f5"), base + 50)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        windowed_counts(stream, watermark="10 minutes"),
        "late_drop_test",
        output_mode="append",
        no_data_batches=True,
    )
    rows = out.filter(F.col("event_type") == "view").collect()
    got = {r["window_start"]: r["n_events"] for r in rows}
    # 10:00 window: ONLY the 3 on-time rows; the batch-4 straggler
    # found its window evicted and was dropped
    assert got.get(m(0)) == 3, got
    # 10:30 window: the 10:30 and 10:32 rows
    assert got.get(m(30)) == 2, got
    # and the straggler did not resurrect or duplicate the 10:00 window
    assert sum(1 for r in rows if r["window_start"] == m(0)) == 1


def test_dedup_state_expiry_readmits_after_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark's contract, pinned exactly: a
    duplicate arriving while the key's state lives is suppressed; the
    same key arriving after the watermark expired its state is
    RE-ADMITTED (the operator guarantees dedup only within the
    watermark window — at-least-once beyond it, by design).

      batch1 f1: id=1 @ 10:00                  -> emitted
      batch2 f2: id=1 @ 10:05 (dup, state live) -> suppressed
      batch3 f3: id=9 @ 10:30  (advances the watermark to 10:20)
      batch4 f4: id=8 @ 10:32  (spacer: id=1 state evicted at its end
                                — eviction happens at batch end, one
                                batch after the watermark crossing,
                                same lag the late-drop test pins)
      batch5 f5: id=1 @ 10:33 (state gone)      -> emitted AGAIN
    """
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        dedup_events_stream,
        run_to_memory,
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    base = _time.time() - 1000
    src = tmp_path / "dedup_arrivals"
    mk([(1, m(0), 1, "view", 0.0, "{}")], str(src / "f1"), base + 10)
    mk([(1, m(5), 1, "view", 0.0, "{}")], str(src / "f2"), base + 20)
    mk([(9, m(30), 1, "view", 0.0, "{}")], str(src / "f3"), base + 30)
    mk([(8, m(32), 1, "view", 0.0, "{}")], str(src / "f4"), base + 40)
    mk([(1, m(33), 1, "view", 0.0, "{}")], str(src / "f5"), base + 50)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        dedup_events_stream(stream, watermark="10 minutes"),
        "dedup_expiry_test",
        output_mode="append",
    )
    emitted = sorted((r["event_id"], r["ts"]) for r in out.collect())
    assert emitted == [(1, m(0)), (1, m(33)), (8, m(32)), (9, m(30))], emitted


def test_session_window_merges_across_batches(spark, tmp_path):
    """Cross-batch session merging, pinned: two events of one user
    arriving in DIFFERENT micro-batches but within the session gap
    (30 min) must merge into ONE session row spanning both, while a
    third event past the gap opens a new session.

      batch1 f1: u1 @ 10:00
      batch2 f2: u1 @ 10:10  (within gap -> extends the session)
      batch3 f3: u1 @ 12:00  (past gap -> new session; also advances
                              the watermark so session 1 emits)
      batch4 f4: u1 @ 14:00  (flushes session 2)
    """
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        session_windows,
    )

    def mk(ts_list, path, mtime):
        rows = [(i, t, 1, "view", 2.0, "{}") for i, t in enumerate(ts_list)]
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    h = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    base = _time.time() - 1000
    src = tmp_path / "session_arrivals"
    mk([h(0)], str(src / "f1"), base + 10)
    mk([h(10)], str(src / "f2"), base + 20)
    mk([h(120)], str(src / "f3"), base + 30)
    mk([h(240)], str(src / "f4"), base + 40)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        session_windows(stream, gap="30 minutes"),
        "session_merge_test",
        output_mode="append",
        no_data_batches=True,
    )
    rows = sorted(out.collect(), key=lambda r: r["session_start"])
    assert len(rows) >= 2
    s1 = rows[0]
    # ONE merged session covering 10:00 and 10:10, ending 10:40
    assert s1["session_start"] == h(0)
    assert s1["session_end"] == h(40)
    assert s1["n_events"] == 2 and s1["session_value"] == 4.0
    s2 = rows[1]
    assert s2["session_start"] == h(120) and s2["n_events"] == 1


def test_stream_stream_join_matches_across_batches(spark, tmp_path):
    """Cross-batch stream-stream join state, pinned: a click buffered
    in batch 1 joins a purchase arriving in batch 2; a click older
    than the join window at purchase time never matches; and a click
    whose state was expired by the watermark before its purchase
    arrives yields no match (inner-join drop).

      batch1 f1: click A @ 10:00 (buffered)
      batch2 f2: purchase P1 @ 10:05 -> joins A across batches
      batch3 f3: click B @ 11:00 (wm -> 10:55, A's state expired:
                 A is > 30 min old AND past the watermark)
      batch4 f4: purchase P2 @ 11:10 -> joins B only
      batch5 f5: spacer @ 12:00 to flush
    """
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        stream_stream_click_purchase_join,
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    base = _time.time() - 1000
    src = tmp_path / "ssj_arrivals"
    mk([(1, m(0), 1, "click", 1.0, "{}")], str(src / "f1"), base + 10)
    mk([(2, m(5), 1, "purchase", 0.0, "{}")], str(src / "f2"), base + 20)
    mk([(3, m(60), 1, "click", 2.0, "{}")], str(src / "f3"), base + 30)
    mk([(4, m(70), 1, "purchase", 0.0, "{}")], str(src / "f4"), base + 40)
    mk([(5, m(120), 1, "view", 0.0, "{}")], str(src / "f5"), base + 50)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        stream_stream_click_purchase_join(stream),
        "ssj_cross_batch_test",
        output_mode="append",
    )
    matches = sorted((r["purchase_id"], r["click_id"]) for r in out.collect())
    # P1 joined the batch-1 click; P2 joined ONLY click B (A is 70 min
    # old — outside the 30-min join window — and state-expired)
    assert matches == [(2, 1), (4, 3)], matches


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    """Custom applyInPandasWithState operator, pinned cross-batch:
    per-user group state must carry counts/totals between micro-
    batches, and update mode must emit one refreshed row per touched
    user per batch (the untouched user is NOT re-emitted)."""
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        running_user_totals,
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    base = _time.time() - 1000
    src = tmp_path / "totals_arrivals"
    mk(
        [(1, T0, 1, "view", 1.5, "{}"), (2, T0, 2, "view", 4.0, "{}")],
        str(src / "f1"),
        base + 10,
    )
    mk([(3, T0, 1, "view", 2.5, "{}")], str(src / "f2"), base + 20)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        running_user_totals(stream), "totals_cross_batch", output_mode="update"
    )
    rows = sorted(
        ((r["user_id"], r["n_events"], r["total_value"]) for r in out.collect())
    )
    # batch1 emits (u1: 1 event, 1.5) and (u2: 1, 4.0); batch2 emits
    # the REFRESHED u1 (2 events, 4.0) only — state carried across
    assert rows == [(1, 1, 1.5), (1, 2, 4.0), (2, 1, 4.0)], rows


def test_foreach_batch_upsert_merges_across_batches(spark, tmp_path):
    """Cross-batch foreachBatch upsert: batch 1 creates the target,
    batch 2 must take the MERGE path (anti-join survivors + refreshed
    rows) — the branch a single-file source never executes. Final
    parquet = last-writer-wins totals per user."""
    import datetime as dt
    import os
    import time as _time

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_foreach_batch_upsert,
        running_user_totals,
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T0 = dt.datetime(2024, 1, 1, 10, 0)
    base = _time.time() - 1000
    src = tmp_path / "upsert_arrivals"
    mk(
        [(1, T0, 1, "view", 1.0, "{}"), (2, T0, 2, "view", 10.0, "{}")],
        str(src / "f1"),
        base + 10,
    )
    mk([(3, T0, 1, "view", 2.0, "{}")], str(src / "f2"), base + 20)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    target = str(tmp_path / "totals_target")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_foreach_batch_upsert(
            running_user_totals(stream), target, key_cols=["user_id"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    # u1 refreshed by batch 2 (2 events, 3.0); u2 survives batch 1
    assert final == {1: (2, 3.0), 2: (1, 10.0)}, final


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-pruned MERGE contract of the foreachBatch upsert: a
    micro-batch touching one key-hash bucket must leave every other
    bucket's files byte-for-byte untouched (the 100 TB property — a
    0.1%-of-keys batch cannot rewrite the other 99.9%)."""
    import os

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_foreach_batch_upsert,
    )

    n_buckets = 8
    # pick two keys that land in DIFFERENT buckets under Spark's hash
    buckets = {
        r["k"]: r["b"]
        for r in spark.range(1, 50)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.hash("id"), F.lit(n_buckets)).alias("b"),
        )
        .collect()
    }
    k1 = 1
    k2 = next(k for k, b in buckets.items() if b != buckets[k1])

    def snapshot(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, path)] = fh.read()
        return out

    target = str(tmp_path / "pruned_target")

    def one_batch(rows):
        df = spark.createDataFrame(rows, "user_id bigint, total double")
        src = tmp_path / f"b{len(rows)}_{rows[0][0]}"
        df.coalesce(1).write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema("user_id bigint, total double").parquet(
            str(src)
        )
        run_foreach_batch_upsert(
            stream, target, key_cols=["user_id"], n_buckets=n_buckets
        )

    one_batch([(k1, 1.0), (k2, 2.0)])  # creates both buckets
    before = snapshot(target)
    one_batch([(k1, 5.0)])  # touches ONLY k1's bucket
    after = snapshot(target)

    k2_dir = f"__kh={buckets[k2]}"
    k1_dir = f"__kh={buckets[k1]}"
    untouched_before = {p: b for p, b in before.items() if p.startswith(k2_dir)}
    untouched_after = {p: b for p, b in after.items() if p.startswith(k2_dir)}
    assert untouched_before and untouched_before == untouched_after
    # ... while the touched bucket WAS rewritten
    assert {p for p in before if p.startswith(k1_dir)} != {
        p for p in after if p.startswith(k1_dir)
    } or any(
        before[p] != after.get(p) for p in before if p.startswith(k1_dir)
    )
    final = {
        r["user_id"]: r["total"] for r in spark.read.parquet(target).collect()
    }
    assert final == {k1: 5.0, k2: 2.0}


def test_upsert_creates_absent_target_and_raises_on_unreadable(spark, tmp_path):
    """The first batch checks the target through its Hadoop FileSystem:
    an absent target (parent dir absent too) takes the create path, and
    a target that exists but holds no readable parquet fails the query
    and is left as it was, not overwritten."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_foreach_batch_upsert,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "user_id bigint, total double"
    ).coalesce(1).write.parquet(src)

    def stream():
        return spark.readStream.schema("user_id bigint, total double").parquet(src)

    target = str(tmp_path / "absent" / "target")
    run_foreach_batch_upsert(stream(), target, key_cols=["user_id"], n_buckets=4)
    final = {r["user_id"]: r["total"] for r in spark.read.parquet(target).collect()}
    assert final == {1: 1.0, 2: 2.0}

    garbage = tmp_path / "garbage"
    garbage.mkdir()
    (garbage / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(StreamingQueryException):
        run_foreach_batch_upsert(
            stream(), str(garbage), key_cols=["user_id"], n_buckets=4
        )
    assert [p.name for p in garbage.iterdir()] == ["part-0.parquet"]
    assert (garbage / "part-0.parquet").read_bytes() == b"not parquet"


def test_upsert_bucket_count_guard(spark):
    """The touched-bucket collect is bounded by n_buckets, so
    n_buckets itself must stay metadata-scale: a caller passing a key
    cardinality by mistake fails loudly at call time, before any
    micro-batch runs."""
    import pytest

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        UPSERT_MAX_BUCKETS,
        run_foreach_batch_upsert,
    )

    df = spark.readStream.format("rate").load()
    for bad in (0, -1, UPSERT_MAX_BUCKETS + 1):
        with pytest.raises(ValueError, match="n_buckets"):
            run_foreach_batch_upsert(df, "/tmp/never-written", ["value"],
                                     n_buckets=bad)


def test_session_gap_stateful_closes_on_gap_and_timeout(spark, tmp_path):
    """applyInPandasWithState session-gap operator, pinned cross-batch:
    (a) group state carries the open session between micro-batches,
    (b) an arriving event past the 30-min gap closes it in-stream,
    (c) the EVENT-TIME timeout closes idle sessions once the watermark
    passes last + gap (fired by the trailing no-data micro-batch), and
    (d) a session still inside the gap horizon is NOT emitted."""
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        stateful_session_gap,
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, value double"
        ).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T = dt.datetime
    base = _time.time() - 1000
    src = tmp_path / "session_arrivals"
    mk(
        [
            (1, T(2024, 1, 1, 10, 0), 1.0),
            (1, T(2024, 1, 1, 10, 10), 2.0),
            (2, T(2024, 1, 1, 10, 5), 3.0),
        ],
        str(src / "f1"),
        base + 10,
    )
    mk(
        [
            # 50 min after user 1's last event: closes session 1 on arrival
            (1, T(2024, 1, 1, 11, 0), 4.0),
            # watermark clock: advances wm to 12:20, so user 1's second
            # session (last 11:00) and user 2's (last 10:05) time out;
            # user 99's own session (12:30) stays open and unemitted
            (99, T(2024, 1, 1, 12, 30), 0.0),
        ],
        str(src / "f2"),
        base + 20,
    )

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        stateful_session_gap(stream),
        "session_gap_cross_batch",
        output_mode="append",
        no_data_batches=True,
    )
    rows = sorted(
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["session_value"],
        )
        for r in out.collect()
    )
    assert rows == [
        (1, T(2024, 1, 1, 10, 0), T(2024, 1, 1, 10, 10), 2, 3.0),
        (1, T(2024, 1, 1, 11, 0), T(2024, 1, 1, 11, 0), 1, 4.0),
        (2, T(2024, 1, 1, 10, 5), T(2024, 1, 1, 10, 5), 1, 3.0),
    ], rows


def test_session_gap_stateful_fuzz_vs_reference(spark, tmp_path):
    """Randomized multi-batch fuzz for the session-gap operator: random
    users/timestamps/values split into time-ordered arrival files must
    reproduce a pure-Python gap sessionizer exactly (bounds, counts,
    cent-exact totals) once a far-future flush event closes the tail.
    Batches are contiguous time slices, so nothing is watermark-late;
    within-batch order is shuffled to exercise the operator's sort."""
    import datetime as dt
    import os
    import random
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        stateful_session_gap,
    )

    GAP_US = 30 * 60 * 1_000_000
    T0 = dt.datetime(2024, 3, 1)

    for seed in (11, 42, 1999):
        rng = random.Random(seed)
        events = []  # (user_id, ts_us_offset, cents)
        for user in range(1, 1 + rng.randrange(3, 7)):
            t_us = rng.randrange(0, 3_600_000_000)
            for _ in range(rng.randrange(1, 40)):
                events.append((user, t_us, rng.randrange(0, 100_000)))
                # mixture of intra-session steps and gap-breaking jumps
                t_us += (
                    rng.randrange(1, GAP_US)
                    if rng.random() < 0.8
                    else GAP_US + rng.randrange(1, 3 * GAP_US)
                )
        # python reference sessionizer (split on > gap)
        expected = set()
        by_user: dict[int, list] = {}
        for u, t, c in sorted(events, key=lambda e: (e[0], e[1])):
            by_user.setdefault(u, []).append((t, c))
        for u, evs in by_user.items():
            start, last, n, cents = evs[0][0], evs[0][0], 1, evs[0][1]
            for t, c in evs[1:]:
                if t - last > GAP_US:
                    expected.add((u, start, last, n, cents))
                    start, last, n, cents = t, t, 1, c
                else:
                    last, n, cents = t, n + 1, cents + c
            expected.add((u, start, last, n, cents))

        # arrival files: contiguous time slices + a final flush event
        events.sort(key=lambda e: e[1])
        n_files = rng.randrange(2, 5)
        bounds = sorted(rng.sample(range(1, len(events)), n_files - 1))
        chunks = [
            events[a:b]
            for a, b in zip([0] + bounds, bounds + [len(events)])
            if a != b
        ]
        max_us = events[-1][1]
        chunks.append([(999, max_us + 48 * 3_600_000_000, 0)])

        src = tmp_path / f"fuzz_{seed}"
        base = _time.time() - 1000
        for i, chunk in enumerate(chunks):
            chunk = chunk[:]
            rng.shuffle(chunk)  # within-batch disorder
            df = spark.createDataFrame(
                [
                    (u, T0 + dt.timedelta(microseconds=t), c / 100.0)
                    for u, t, c in chunk
                ],
                "user_id bigint, ts timestamp, value double",
            ).coalesce(1)
            path = str(src / f"f{i}")
            df.write.mode("overwrite").parquet(path)
            for root, _d, files in os.walk(path):
                for f in files:
                    os.utime(os.path.join(root, f), (base + i, base + i))

        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, value double")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .load(str(src))
        )
        out = run_to_memory(
            stateful_session_gap(stream),
            f"session_fuzz_{seed}",
            output_mode="append",
            no_data_batches=True,
        )
        got = {
            (
                r["user_id"],
                round((r["session_start"] - T0).total_seconds() * 1e6),
                round((r["session_end"] - T0).total_seconds() * 1e6),
                r["n_events"],
                int(round(r["session_value"] * 100)),
            )
            for r in out.collect()
            if r["user_id"] != 999
        }
        assert got == expected, (
            f"seed {seed}: {len(got ^ expected)} differing sessions"
        )


def test_stream_stream_left_outer_emits_null_after_eviction(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched purchase emits its
    null-click row only after the watermark proves no matching click
    can arrive (join-state eviction via the far-future clock events),
    while matched purchases emit normally; the far-future clock
    purchase itself stays unemitted (its window is still open)."""
    import datetime as dt
    import os
    import time as _time

    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        run_to_memory,
        stream_stream_click_purchase_join,
    )

    schema = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )

    def mk(rows, path, mtime):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        df.write.mode("overwrite").parquet(path)
        for root, _d, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    T = dt.datetime
    base = _time.time() - 1000
    src = tmp_path / "lo_arrivals"
    mk(
        [
            (1, T(2024, 1, 1, 10, 0), 1, "purchase", 5.0, "{}"),   # no clicks
            (2, T(2024, 1, 1, 10, 5), 2, "click", 1.0, "{}"),
            (3, T(2024, 1, 1, 10, 20), 2, "purchase", 7.0, "{}"),  # matches 2
        ],
        str(src / "f1"),
        base + 10,
    )
    mk(
        [
            (90, T(2024, 1, 1, 12, 0), 99, "click", 0.0, "{}"),
            (91, T(2024, 1, 1, 12, 0), 99, "purchase", 0.0, "{}"),
        ],
        str(src / "f2"),
        base + 20,
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .load(str(src))
    )
    out = run_to_memory(
        stream_stream_click_purchase_join(stream, how="left_outer"),
        "lo_cross_batch",
        output_mode="append",
        no_data_batches=True,
    )
    rows = sorted(
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in out.collect()
        if r["user_id"] != 99
    )
    assert rows == [(1, 1, None), (2, 3, 2)], rows


def test_stream_cms_state_bounded_and_guarantee(spark, sf_dir):
    """The streaming CMS's whole point: state is the 2x64 sketch, not
    per-key counters — the complete-mode output table (== the
    aggregation state) holds at most 128 rows no matter how many
    distinct users the stream carries; and every reported estimate
    respects the Count-Min over-estimate guarantee."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    top = QUERIES["stream_heavy_hitters_cms"](spark, sf_dir).collect()
    assert 0 < len(top) <= 20  # sf0.001 has fewer than 20 distinct users
    assert all(r["bound_holds"] for r in top)
    assert all(r["cm_estimate"] >= r["true_n"] for r in top)
    sketch = spark.table("ivdp_stream_cms")
    assert sketch.count() <= 128, "state must be the fixed sketch cells"
    # deterministic across re-runs in the same session
    again = QUERIES["stream_heavy_hitters_cms"](spark, sf_dir).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, again))


def test_session_gap_production_path_matches_sentinel_run(spark, sf_dir):
    """VERDICT r7 item 4: the flush-sentinel optimization moved session
    closure onto the data path; pin the PRODUCTION configuration (no
    flush file, event-time timeout only, no-data batches ON — what a
    real deployment runs) against the catalog's sentinel-driven query
    so the two paths can never drift.

    The timeout path emits a strict SUBSET of the sessions: the final
    watermark stops at max(ts) - 10min, so each user's last session
    stays open (and unemitted) unless its ``last + gap`` fell behind
    that watermark. Every session BOTH paths emit must be bit-identical
    (bounds, counts, cent-exact totals), and the sessions only the
    sentinel run emits must be EXACTLY the predicted still-open set —
    per user, the final session with ``session_end + gap >= watermark``.
    """
    import datetime as dt

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table
    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        SESSION_GAP,
        read_events_stream,
        run_to_memory,
        stateful_session_gap,
    )

    assert SESSION_GAP == "30 minutes"
    gap = dt.timedelta(minutes=30)
    wm_delay = dt.timedelta(minutes=10)

    def rows(df):
        return {
            (
                r["user_id"],
                r["session_start"],
                r["session_end"],
                r["n_events"],
                r["session_value"],
            )
            for r in df.collect()
        }

    sentinel = rows(QUERIES["stream_session_gap_stateful"](spark, sf_dir))

    stream = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    production = rows(
        run_to_memory(
            stateful_session_gap(stream),
            "t_session_gap_production",
            output_mode="append",
            shuffle_partitions=16,
            no_data_batches=True,
        )
    )

    # bit-identical wherever both emit
    assert production <= sentinel, (
        "production (timeout) path emitted sessions the sentinel run "
        f"did not: {sorted(production - sentinel)[:5]}"
    )

    # the gap is EXACTLY the predicted still-open tail sessions
    max_ts = read_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    watermark = max_ts - wm_delay
    last_session = {}
    for row in sentinel:
        user = row[0]
        if user not in last_session or row[1] > last_session[user][1]:
            last_session[user] = row
    predicted_open = {
        row for row in last_session.values() if row[2] + gap >= watermark
    }
    assert sentinel - production == predicted_open, (
        f"timeout path drifted from the sentinel path: "
        f"unexpected={sorted((sentinel - production) - predicted_open)[:5]} "
        f"missing={sorted(predicted_open - (sentinel - production))[:5]}"
    )
    # non-vacuous: the timeout actually closed sessions, and some tail
    # sessions genuinely stayed open (else this test proves nothing)
    timed_out_finals = {
        row for row in last_session.values() if row in production
    }
    assert timed_out_finals, "no session closed via the event-time timeout"
    assert predicted_open, "no session stayed open past the final watermark"


def test_derive_state_partitions_local_and_cluster_branches(spark, sf_dir):
    """VERDICT r7 item 5: stream width must derive from EXECUTOR
    parallelism on a real cluster (the driver-side file stat is a
    local-mode-only signal; an unbounded Kafka source has no on-disk
    bytes), while local mode keeps the measured volume heuristic."""
    from incubyte_vaccination_data_pipeline_spark.streaming.events_stream import (
        derive_state_partitions,
        events_source_bytes,
        stream_state_partitions,
    )

    mib2 = 2 << 20
    # local branch: ceil(bytes/2MiB) clamped to [lo, parallelism]
    assert derive_state_partitions("local[32]", 32, 2 * mib2) == 2
    assert derive_state_partitions("local[32]", 32, 20 * mib2) == 20
    assert derive_state_partitions("local[32]", 32, 1, lo=4) == 4
    assert derive_state_partitions("local[8]", 8, 100 * mib2) == 8  # cap
    # volume_factor doubles the effective bytes (ADVICE r7: the dedup
    # query streams the source twice)
    assert derive_state_partitions("local[32]", 32, 10 * mib2, volume_factor=2) == 20
    # cluster branch: executor parallelism, regardless of source bytes
    assert derive_state_partitions("spark://host:7077", 400, 0) == 400
    assert derive_state_partitions("yarn", 1000, 2 * mib2) == 1000
    assert derive_state_partitions("k8s://https://host", 64, 0, hi=48) == 48
    assert derive_state_partitions("yarn", 1, 0, lo=4) == 4  # floor holds
    # the session-level wrapper routes through the local branch here
    n = stream_state_partitions(spark, sf_dir)
    expected = derive_state_partitions(
        spark.sparkContext.master,
        spark.sparkContext.defaultParallelism,
        events_source_bytes(spark, sf_dir),
    )
    assert n == expected
