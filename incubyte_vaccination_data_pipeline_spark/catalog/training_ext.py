"""Training-data preparation queries: deterministic dataset splits,
cross-split contamination (exact and n-gram partial leaks), the
per-slice corpus report, int8 embedding quantization, per-user event
sequences, the certified approximate percentile, and the key-skew
report."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.operators.contamination import (
    exact_contamination,
    ngram_contamination,
)
from incubyte_vaccination_data_pipeline_spark.operators.sampling import with_split
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

# DuckDB restatement of operators/sampling.split_bucket_expr: first 4
# md5 hex chars of (salt || key) as an int in [0, 65536). Spark's
# conv(hex, 16, 10) == positional strpos arithmetic (same trick as the
# dedup family's md5_half_decode_sql).
_HEX = "0123456789abcdef"
_BUCKET_SQL = (
    "((strpos('{hex}', substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096"
    " + (strpos('{hex}', substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256"
    " + (strpos('{hex}', substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16"
    " + (strpos('{hex}', substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1))"
).format(hex=_HEX)

SPLIT_COUNTS_ORACLE = f"""
    WITH b AS (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents),
    s AS (
        SELECT doc_id,
               CASE WHEN bucket < 58982 THEN 'train'
                    WHEN bucket < 62259 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    )
    SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM s GROUP BY split
"""


@query("split_train_val_test", SPLIT_COUNTS_ORACLE)
def split_train_val_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed 90/5/5 split of ``documents``,
    summarized per split (count + id range — the full assignment is
    row-per-doc and verified by the same bucket arithmetic in the
    oracle). operators/sampling.py; boundaries 58982/62259 are
    round(0.90*65536)/round(0.95*65536)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        with_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


CONTAMINATION_ORACLE = f"""
    WITH b AS (SELECT doc_id, text, {_BUCKET_SQL} AS bucket FROM documents),
    tr AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
           FROM b WHERE bucket < 58982),
    te AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
           FROM b WHERE bucket >= 62259),
    leaked AS (SELECT doc_id, h FROM te
               UNION ALL
               SELECT doc_id + 5000000, h FROM tr
               WHERE doc_id % 50 = 0)
    SELECT l.doc_id AS eval_doc_id, tr.doc_id AS train_doc_id
    FROM leaked l JOIN tr ON l.h = tr.h
"""


@query("split_contamination", CONTAMINATION_ORACLE)
def split_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-split contamination over the deterministic split,
    with planted leaks (every 50th train doc re-inserted into the eval
    side at +5,000,000) so the detector's output is non-vacuous: both
    engines must find exactly the planted pairs (the un-tampered
    corpus has no cross-split duplicates)."""
    from incubyte_vaccination_data_pipeline_spark.operators.sampling import take_split

    docs = read_table(spark, sf_dir, "documents")
    train = take_split(docs, "doc_id", "train")
    test = take_split(docs, "doc_id", "test")
    planted = train.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000000
    )
    return exact_contamination(train, test.unionByName(planted))


NGRAM_CONTAMINATION_ORACLE = """
    WITH aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    evals AS (
        SELECT doc_id + 7000000 AS doc_id,
               text || ' fresh evaluation continuation material' AS text
        FROM aug
    ),
    tw AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
        FROM aug
    ),
    ew AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
        FROM evals
    ),
    tg AS (
        SELECT DISTINCT unnest(CASE WHEN len(w) >= 8 THEN
                   list_transform(range(1, len(w) - 6),
                       i -> array_to_string(w[i:i+7], ' '))
               ELSE [] END) AS g
        FROM tw
    ),
    eg AS (
        SELECT doc_id, unnest(CASE WHEN len(w) >= 8 THEN
                   list_transform(range(1, len(w) - 6),
                       i -> array_to_string(w[i:i+7], ' '))
               ELSE [] END) AS g
        FROM ew
    )
    SELECT eg.doc_id AS eval_doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS overlap
    FROM eg LEFT JOIN tg ON eg.g = tg.g
    GROUP BY eg.doc_id
    HAVING round(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) >= 0.3
"""


@query("ngram_contamination_partial_leak", NGRAM_CONTAMINATION_ORACLE)
def ngram_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-8-gram partial-leak detection: every 97th document is
    'quoted' inside a synthetic eval doc that then continues with
    fresh words — the detector must flag each eval doc with its
    measured overlap fraction (exact hashing would miss these)."""
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 == 0)
    evals = train.select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" fresh evaluation continuation material")
        ).alias("text"),
    )
    return ngram_contamination(train, evals, n=8, min_overlap=0.3)


CORPUS_REPORT_ORACLE = """
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens,
           round(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           round(COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 6) AS unique_ratio
    FROM documents
    GROUP BY source, lang
"""


@query("corpus_report", CORPUS_REPORT_ORACLE)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per (source, lang): doc/token counts, mean
    length, and content-hash uniqueness ratio — the summary a training
    pipeline publishes per corpus slice before mixing. One scan, one
    grouped aggregate; the distinct-hash count is the only expansion
    and rides the same shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), " "))).alias("n_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.round(
            F.countDistinct(F.md5("text")) / F.count(F.lit(1)), 6
        ).alias("unique_ratio"),
    )


EMBEDDING_QUANTIZE_ORACLE = """
    WITH q AS (
        SELECT vec_id,
               round(list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127, 9) AS scale
        FROM embeddings
    ),
    quant AS (
        SELECT e.vec_id, q.scale,
               list_transform(e.embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / q.scale) AS BIGINT)) AS qv
        FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    )
    SELECT vec_id, scale,
           CAST(len(qv) AS INT) AS n_dims,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                            (a, b) -> a + b) AS BIGINT) AS q_sum,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(qv, v -> abs(v))), (a, b) -> a + b)
                AS BIGINT) AS q_l1,
           CAST(list_max(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_max_abs
    FROM quant
"""


@query("embedding_quantize_int8", EMBEDDING_QUANTIZE_ORACLE)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scale = max|v|/127) — the standard vector-compression step
    before ANN index build (4x smaller, dot products in integer
    arithmetic). Quantized values are exact integers, so the oracle
    restates the identical arithmetic; the row carries scalar digests
    (sum / L1 / max-abs) rather than the raw array because the driver
    hash compares stringified cells, and array renderings differ
    between engines. q_max_abs <= 127 by construction."""
    emb = read_table(spark, sf_dir, "embeddings")
    scale = F.round(
        F.expr(
            "aggregate(transform(embedding, x -> abs(cast(x as double))),"
            " cast(0.0 as double), (a, x) -> greatest(a, x))"
        )
        / F.lit(127),
        9,
    )
    with_scale = emb.select("vec_id", "embedding", scale.alias("scale"))
    qv = F.expr(
        "transform(embedding, x -> cast(round(cast(x as double) / scale) as bigint))"
    )
    quant = with_scale.select("vec_id", "scale", qv.alias("qv"))
    return quant.select(
        "vec_id",
        "scale",
        F.size("qv").alias("n_dims"),
        F.expr(
            "aggregate(qv, cast(0 as bigint), (a, v) -> a + v)"
        ).alias("q_sum"),
        F.expr(
            "aggregate(qv, cast(0 as bigint), (a, v) -> a + abs(v))"
        ).alias("q_l1"),
        F.expr(
            "aggregate(qv, cast(0 as bigint), (a, v) -> greatest(a, abs(v)))"
        ).alias("q_max_abs"),
    )


EVENT_SEQUENCES_ORACLE = """
    WITH ranked AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           array_to_string(list(event_type ORDER BY rn), ' ') AS prefix_seq
    FROM ranked WHERE rn <= 20
    GROUP BY user_id
"""


@query("events_user_sequences", EVENT_SEQUENCES_ORACLE)
def event_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered behavior sequence (first 20 events by
    (ts, event_id)) — the sequence-building step that turns an event
    log into training examples for next-event/recommendation models.
    One window + one aggregate, both on the user_id partitioning;
    deterministic tie-break on event_id keeps both engines identical."""
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 20)
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(rn, event_type))),"
                   " s -> s.event_type)"),
            " ",
        ).alias("prefix_seq"),
    )


APPROX_PCTL_ORACLE = """
    SELECT o_orderpriority,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS exact_p50,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderpriority
"""


@query("agg_approx_percentile_certified", APPROX_PCTL_ORACLE)
def approx_percentile_certified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch) is the single-pass scale path for
    quantiles; like agg_approx_count_distinct, the sketch value is
    engine-specific, so the row carries the exact interpolated median
    plus an in-query 5%-error certificate the oracle states as
    literal TRUE. The exact_p50 column IS independently cross-checked
    (DuckDB quantile_cont); only the approx-vs-exact bound is
    in-frame. r14: the exact median interpolates positionally from a
    sorted value array (``operators/quantiles``, bit-identical output)
    instead of a ``percentile`` buffer; the approx sketch rides the
    same single aggregate pass."""
    from incubyte_vaccination_data_pipeline_spark.operators.quantiles import (
        quantile_cont,
        sorted_values,
    )

    orders = read_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("double")
    agg = orders.groupBy("o_orderpriority").agg(
        sorted_values(p).alias("__arr"),
        F.percentile_approx(p, F.lit(0.5), F.lit(10000)).alias("__ap"),
    )
    exact = quantile_cont("__arr", 0.5)
    return agg.select(
        "o_orderpriority",
        exact.alias("exact_p50"),
        (F.abs(F.col("__ap") / exact - 1.0) <= 0.05).alias(
            "approx_within_5pct"
        ),
    )


SKEW_REPORT_ORACLE = """
    WITH per_key AS (
        SELECT o_custkey AS key, COUNT(*) AS n
        FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(n) AS BIGINT) AS max_n,
               round(AVG(CAST(n AS DOUBLE)), 6) AS avg_n
        FROM per_key
    ),
    top AS (
        SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk
        FROM per_key
    )
    SELECT t.rk AS rank, t.key, CAST(t.n AS BIGINT) AS n_rows,
           round(t.n * 1.0 / s.total, 6) AS share,
           round(t.n / s.avg_n, 6) AS x_avg
    FROM top t CROSS JOIN stats s
    WHERE t.rk <= 10
"""


@query("skew_report_orders", SKEW_REPORT_ORACLE)
def skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregate-key skew diagnostic: the 10 heaviest o_custkey
    values with their row share and multiple-of-average — the
    measurement that decides between a plain shuffle, AQE skew-join
    splitting, and explicit salting (operators/skew.py). Two narrow
    aggregations plus a 1-row broadcast of the totals; never collects
    per-key data to the driver."""
    orders = read_table(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = per_key.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
        F.round(F.avg(F.col("n").cast("double")), 6).alias("avg_n"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col("key"))
    top = per_key.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rank",
        "key",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
        F.round(F.col("n") / F.col("avg_n"), 6).alias("x_avg"),
    )

