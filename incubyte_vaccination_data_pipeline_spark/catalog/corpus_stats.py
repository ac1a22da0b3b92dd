"""Corpus statistics for LM training-data preparation.

Three statistics a data team computes before training: conditional
bigram transitions (the n-gram LM view of the corpus), vocabulary
coverage (how many token types cover which mass of the corpus — the
tokenizer-sizing curve), and padding waste per length bucket (what a
fixed-bucket batching scheme loses to pad tokens). Every value is
integer arithmetic or a single int/int division, so both engines agree
bit-for-bit without rounding tricks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog import text_ext as _tx
from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import durable_checkpoint
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_WORDS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"

TOP_W1 = 20  # contexts kept
TOP_W2 = 3  # continuations per context
VOCAB_TOP = 100  # tokens on the coverage curve
PAD_BUCKET = 64  # fixed-bucket batching granularity (tokens)


@query(
    "text_bigram_lm_topk",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    bg AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w WHERE len(ws) >= 2)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (
        SELECT w1, w2, c,
               CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS c1s
        FROM c12
    ),
    ranked_w1 AS (
        SELECT w1, c1s,
               DENSE_RANK() OVER (ORDER BY c1s DESC, w1) AS r1
        FROM (SELECT DISTINCT w1, c1s FROM c1)
    ),
    ranked_w2 AS (
        SELECT c1.w1, c1.w2, c1.c, c1.c1s,
               ROW_NUMBER() OVER (PARTITION BY c1.w1
                                  ORDER BY c1.c DESC, c1.w2) AS r2
        FROM c1
    )
    SELECT rw.w1, r2.w2, r2.c AS n_bigram, r2.c1s AS n_context,
           round(r2.c * 1.0 / r2.c1s, 6) AS p_cond
    FROM ranked_w1 rw JOIN ranked_w2 r2 ON rw.w1 = r2.w1
    WHERE rw.r1 <= 20 AND r2.r2 <= 3
    """,
)
def text_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram table: for the 20 most frequent
    contexts w1, the top 3 continuations w2 with
    P(w2|w1) = count(w1 w2) / count(w1 _) — exact int/int division
    rounded once, so the probabilities hash-match across engines.

    Plan shape: one explode into (w1, w2) pairs, a pair-keyed count
    with map-side combine, a w1-partitioned window for context totals
    and continuation ranks (one keyed shuffle), and a dense-rank
    filter for the context top-20. Nothing global except the
    final tiny rank frame."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws"))
    bigrams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN"
        " transform(sequence(1, size(ws) - 1),"
        "  i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
        " ELSE array() END"
    )
    c12 = (
        w.select(F.explode(bigrams).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win_w1 = Window.partitionBy("w1")
    c1 = c12.withColumn("c1s", F.sum("c").over(win_w1).cast("bigint"))
    r2 = F.row_number().over(
        Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2"))
    )
    ranked = c1.withColumn("r2", r2)
    contexts = (
        c1.select("w1", "c1s")
        .distinct()
        .withColumn(
            "r1",
            F.dense_rank().over(
                Window.orderBy(F.col("c1s").desc(), F.col("w1"))
            ),
        )
        .filter(F.col("r1") <= TOP_W1)
        .select("w1")
    )
    return (
        ranked.filter(F.col("r2") <= TOP_W2)
        .join(F.broadcast(contexts), "w1")
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_bigram"),
            F.col("c1s").alias("n_context"),
            F.round(F.col("c") / F.col("c1s"), 6).alias("p_cond"),
        )
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_WORDS_SQL}) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts),
    ranked AS (
        SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
        FROM counts
    )
    SELECT rnk, tok, c AS n_occurrences,
           round(CAST(SUM(c) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) * 1.0 / n_total, 6) AS cum_frac
    FROM ranked CROSS JOIN total
    WHERE rnk <= 100
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the 100 most frequent tokens
    with the cumulative fraction of corpus tokens they cover — the
    statistic that sizes a tokenizer vocabulary.

    Plan shape: distributed token count (map-side combine), top-K via
    TakeOrdered (the only global step, bounded at 100 rows),
    then the cumulative window runs on that tiny frame with the corpus
    total crossed in as a 1-row broadcast. The single-partition window
    is bounded by K, never by the vocabulary."""
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(F.sum("c").cast("bigint").alias("n_total"))
    top = (
        counts.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(VOCAB_TOP)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("tok"))),
        )
    )
    cum = (
        F.sum("c")
        .over(Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
    )
    return top.crossJoin(F.broadcast(total)).select(
        "rnk",
        "tok",
        F.col("c").alias("n_occurrences"),
        F.round(cum / F.col("n_total"), 6).alias("cum_frac"),
    )


@query(
    "corpus_padding_waste",
    oracle=f"""
    WITH t AS (
        SELECT len({_WORDS_SQL}) AS n_tokens FROM documents
    ),
    b AS (
        SELECT n_tokens,
               CAST(ceil(n_tokens * 1.0 / 64) AS BIGINT)
                   * 64 AS bucket
        FROM t
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS n_pad,
           round(SUM(bucket - n_tokens) * 1.0 / SUM(bucket), 6) AS waste_frac
    FROM b GROUP BY bucket
    """,
)
def corpus_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste per fixed 64-token length bucket: if
    batches pad every document to its bucket boundary, how many pad
    tokens does each bucket burn? The statistic behind choosing
    bucket boundaries (or switching to sequence packing). One
    map-side-combinable shuffle; waste fractions are exact int/int
    divisions."""
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    b = docs.select(
        n_tokens.alias("n_tokens"),
        (F.ceil(n_tokens / F.lit(PAD_BUCKET)) * PAD_BUCKET).cast("bigint").alias(
            "bucket"
        ),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.col("bucket") - F.col("n_tokens")).cast("bigint").alias("n_pad"),
        F.round(
            F.sum(F.col("bucket") - F.col("n_tokens"))
            / F.sum("bucket"),
            6,
        ).alias("waste_frac"),
    )


@query(
    "corpus_mixture_plan",
    oracle=f"""
    WITH per AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_WORDS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS wgt FROM per
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
               CAST(SUM(wgt) AS BIGINT) AS t_wgt
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / t_tokens, 6) AS natural_frac,
           round(wgt * 1.0 / t_wgt, 6) AS target_frac,
           round((wgt * t_tokens) * 1.0 / (t_wgt * n_tokens), 6) AS repeat_factor
    FROM w CROSS JOIN tot
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture plan: per-source token shares under sqrt-
    temperature reweighting (target weight proportional to
    sqrt(n_tokens) — the standard move that upsamples rare sources
    without letting any source dominate), with the repeat factor each
    source needs to hit its target share.

    Determinism: the weight is floor(sqrt(bigint)) — IEEE sqrt is
    correctly rounded so both engines produce the same integer — and
    every fraction is a single int/int division rounded once. Plan
    shape: ONE scan and one source-keyed aggregate; the corpus totals
    come from an unpartitioned window over the per-source frame
    (bounded by the source count by definition, so the single
    partition is a few-hundred-row frame, not data) — a separate
    total aggregate would re-scan the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("n_tokens"),
    )
    w = per.withColumn("wgt", F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint"))
    win = Window.partitionBy()
    t_tokens = F.sum("n_tokens").over(win).cast("bigint")
    t_wgt = F.sum("wgt").over(win).cast("bigint")
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / t_tokens, 6).alias("natural_frac"),
        F.round(F.col("wgt") / t_wgt, 6).alias("target_frac"),
        F.round((F.col("wgt") * t_tokens) / (t_wgt * F.col("n_tokens")), 6).alias(
            "repeat_factor"
        ),
    )


_TARGET_FILE_BYTES = 4096  # demonstration target; production would be 128-256 MiB


@query(
    "corpus_compaction_plan",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_doc_bytes,
           CAST(CEIL(CAST(SUM(octet_length(encode(text))) AS DOUBLE)
                     / {_TARGET_FILE_BYTES}) AS BIGINT) AS n_files,
           CAST(CEIL(CAST(COUNT(*) AS DOUBLE) /
                CEIL(CAST(SUM(octet_length(encode(text))) AS DOUBLE)
                     / {_TARGET_FILE_BYTES})) AS BIGINT) AS docs_per_file
    FROM documents
    GROUP BY source
    """,
)
def corpus_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: per source, total payload bytes
    and the file count needed to hit a target file size — the sizing
    pass that precedes a ``repartitionByRange``/``maxRecordsPerFile``
    rewrite of a fragmented corpus (the #1 operational problem of
    100 TB parquet lakes). ONE scan, one tiny per-source aggregate;
    the target constant here is test-scale (4 KiB) — production uses
    128-256 MiB with identical arithmetic.

    Beyond-reference family (corpus operations); the write-side
    counterpart of ``sources/parquet_io.py``'s chunked warehouse sink.
    """
    docs = read_table(spark, sf_dir, "documents")
    nbytes = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(nbytes).cast("bigint").alias("total_bytes"),
        F.max(nbytes).cast("bigint").alias("max_doc_bytes"),
    )
    n_files = F.ceil(
        F.col("total_bytes").cast("double") / _TARGET_FILE_BYTES
    ).cast("bigint")
    return per.select(
        "source",
        "n_docs",
        "total_bytes",
        "max_doc_bytes",
        n_files.alias("n_files"),
        F.ceil(F.col("n_docs").cast("double") / n_files).cast("bigint").alias(
            "docs_per_file"
        ),
    )


_SEQ_LEN = 512  # tokens per packed training sequence (2k-8k in prod)


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9 ]')) + 1 AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens AS start_global
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(start_global AS BIGINT) AS start_global,
           CAST(start_global // {_SEQ_LEN} AS BIGINT) AS seq_first,
           CAST((start_global + n_tokens - 1) // {_SEQ_LEN} AS BIGINT)
               AS seq_last,
           CAST(start_global % {_SEQ_LEN} AS BIGINT) AS offset_in_seq,
           CAST((start_global + n_tokens - 1) // {_SEQ_LEN}
             - start_global // {_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-sequence packing plan: concatenate every
    document's tokens (+1 EOS separator) in doc_id order and slice the
    stream into fixed 512-token sequences — documents cross
    sequence boundaries, exactly how packed pretraining datasets are
    laid out. Emits each document's global token offset and the
    sequence span it lands in (the shuffle-free recipe a writer task
    needs to emit its shard of packed sequences).

    Scale shape: the global offset comes from
    ``operators/prefix.py:global_cumsum`` — range partition +
    per-partition window + driver prefix over the partition TOTALS
    (bounded metadata collect) — never a single-task global window.
    Beyond-reference family (training-data ops)."""
    from incubyte_vaccination_data_pipeline_spark.operators.prefix import (
        global_cumsum,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.text import (
        bpe_token_count,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", (bpe_token_count("text") + 1).alias("n_tokens")
    )
    cum = global_cumsum(docs, "doc_id", "n_tokens", out_col="__cum")
    start = (F.col("__cum") - F.col("n_tokens")).cast("bigint")
    last = start + F.col("n_tokens") - 1
    return cum.select(
        "doc_id",
        "n_tokens",
        start.alias("start_global"),
        last.alias("__last"),
    ).select(
        "doc_id",
        "n_tokens",
        "start_global",
        F.expr(f"start_global div {_SEQ_LEN}").alias("seq_first"),
        F.expr(f"__last div {_SEQ_LEN}").alias("seq_last"),
        (F.col("start_global") % _SEQ_LEN).alias("offset_in_seq"),
        (
            F.expr(f"__last div {_SEQ_LEN}")
            - F.expr(f"start_global div {_SEQ_LEN}")
            + 1
        ).alias("n_seqs"),
    )


# --- composite: the training-ready corpus --------------------------------
#
# What a user actually runs before training: quality-gate the corpus
# (text_ext's funnel rules), scrub PII (text_ext's patterns, over the
# same derived PII-bearing variant so the scrub does real work), then
# chunk the redacted text into training samples. The whole composite
# is ONE scan of pure per-row expressions + the chunk explode — no
# joins, no shuffles except the output write. Constants are imported
# from text_ext so the composite can never drift from the individual
# operators it composes.


_READY_ORACLE = f"""
    WITH rules AS (
        SELECT doc_id, source, text,
               string_split_regex(trim(lower(text)), '\\s+') AS ws,
               {_tx._DIRTY_SQL} AS dirty
        FROM documents
    ),
    kept AS (
        SELECT doc_id, source,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(dirty, '{_tx._EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_tx._PHONE_RE}', '<PHONE>', 'g'),
                 '{_tx._IP_RE}', '<IP>', 'g') AS clean
        FROM rules
        WHERE len(ws) >= {_tx._MIN_WORDS}
          AND len(array_to_string(ws, '')) * 1.0 / len(ws)
              BETWEEN {_tx._WLEN_LO} AND {_tx._WLEN_HI}
          AND len(list_distinct(ws)) * 1.0 / len(ws) >= {_tx._DISTINCT_FLOOR}
          AND list_has_any(ws, {_tx._STOPWORDS!r})
    ),
    ctoks AS (
        SELECT doc_id, source,
               string_split_regex(trim(lower(clean)), '\\s+') AS cw
        FROM kept
    )
    SELECT t.doc_id, t.source,
           CAST(i.i AS INT) AS chunk_id,
           CAST(len(list_slice(t.cw, i.i * {_tx._STRIDE} + 1,
                               i.i * {_tx._STRIDE} + {_tx._CHUNK})) AS INT)
               AS n_tokens,
           md5(array_to_string(
                 list_slice(t.cw, i.i * {_tx._STRIDE} + 1,
                            i.i * {_tx._STRIDE} + {_tx._CHUNK}), ' '))
               AS chunk_md5
    FROM ctoks t,
         LATERAL (SELECT UNNEST(generate_series(
                    0, (len(t.cw) - 1) // {_tx._STRIDE})) AS i) i
"""


@query("corpus_training_ready", _READY_ORACLE)
def corpus_training_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter -> redact -> chunk in one scan; the end product a
    training run reads."""
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(ws)
    mean_wlen = F.length(F.array_join(ws, "")) / n
    keep = (
        (n >= _tx._MIN_WORDS)
        & (mean_wlen >= _tx._WLEN_LO)
        & (mean_wlen <= _tx._WLEN_HI)
        & (F.size(F.array_distinct(ws)) / n >= _tx._DISTINCT_FLOOR)
        & F.arrays_overlap(ws, F.array(*[F.lit(s) for s in _tx._STOPWORDS]))
    )
    dirty = F.expr(_tx._DIRTY_SQL)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, F.lit(_tx._EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(_tx._PHONE_RE),
            F.lit("<PHONE>"),
        ),
        F.lit(_tx._IP_RE),
        F.lit("<IP>"),
    )
    kept = docs.filter(keep).select(
        "doc_id",
        "source",
        F.split(F.lower(F.trim(clean)), r"\s+").alias("cw"),
    )
    cn = F.size("cw")
    exploded = kept.select(
        "doc_id",
        "source",
        "cw",
        F.explode(
            F.sequence(F.lit(0), ((cn - F.lit(1)) / F.lit(_tx._STRIDE)).cast("int"))
        ).alias("chunk_id"),
    )
    chunk = F.slice(F.col("cw"), F.col("chunk_id") * _tx._STRIDE + 1, _tx._CHUNK)
    return exploded.select(
        "doc_id",
        "source",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# --- the curation funnel as one value-checked row --------------------------

def _funnel_oracle() -> str:
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        _MINHASH_CTES,
    )

    norm_t = "lower(trim(regexp_replace(t.text, '\\s+', ' ', 'g')))"
    norm_e = "lower(trim(regexp_replace(e.text, '\\s+', ' ', 'g')))"
    return f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs5 AS (
        SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs5
        UNION ALL
        SELECT doc_b, doc_a FROM pairs5
    ),
    reach(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    members AS (
        SELECT a AS doc_id FROM reach GROUP BY a
        HAVING a <> LEAST(a, MIN(b))
    ),
    reps AS (
        SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY md5(text)
    ),
    cleaned AS (
        SELECT * FROM aug
        WHERE doc_id IN (SELECT doc_id FROM reps)
          AND doc_id NOT IN (SELECT doc_id FROM members)
    ),
    ev AS (SELECT * FROM aug WHERE doc_id % 17 = 0),
    tr AS (SELECT * FROM cleaned WHERE doc_id % 17 <> 0),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM tr t JOIN ev e ON {norm_t} = {norm_e}
    ),
    final AS (
        SELECT * FROM tr
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM aug) AS n_docs,
        (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) FROM aug)
            AS n_exact_unique,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_near_members,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cleaned) AS n_cleaned,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM contaminated)
            AS n_contaminated_train,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM final) AS n_final,
        (SELECT CAST((CAST(SUM(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9 ]')) + 1) AS BIGINT) + 511) // 512
            AS BIGINT) FROM final) AS n_packed_seqs
"""


@query("corpus_curation_funnel", _funnel_oracle())
def corpus_curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's stage counts as ONE value-checked row:
    corpus size, exact-unique texts, near-dup cluster members
    (MinHash(12)/LSH(4x3) -> connected components), cleaned-corpus
    survivors (exact reps minus cluster members —
    ``dedup_cleaned_corpus``'s frame), the exact-contamination
    casualties of screening the cleaned train side (id % 17 != 0)
    against an eval set sampled from the RAW corpus (id % 17 == 0 —
    benchmarks are built from raw text, and a planted verbatim copy
    in the eval residue leaks its surviving original into train),
    the final trainable count, and its 512-token packed-sequence
    total.

    Composition reuses the certified building blocks end to end:
    ``exact_dedup``, the shared per-corpus duplicate-clusters cache,
    ``exact_contamination``'s normalized-hash equi-join, and
    ``bpe_token_count`` — so this row IS the
    ``scripts/demo_curation_10x.py`` DAG at oracle scale, and every
    number in it hash-checks against an independent recursive-CTE
    restatement. Scalar aggregates attach by broadcast one-row
    crossJoins (no shuffle; the established funnel shape)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        augmented_documents,
        shared_duplicate_clusters,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.contamination import (
        exact_contamination,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import exact_dedup
    from incubyte_vaccination_data_pipeline_spark.operators.text import (
        bpe_token_count,
    )

    docs = augmented_documents(spark, sf_dir)
    # r14 restructure (guide §1.2: don't compute things twice): the
    # crossJoin-of-aggregates shape re-executed each branch's WHOLE
    # lineage per run — exact_dedup's md5 groupBy ran ~4x (semi-join,
    # its own count, and again under tr / final) and the contamination
    # join twice (count + anti-join). Now every stage decision becomes
    # a compact per-doc FLAG (reps / members / contaminated are
    # checkpointed id frames; 1:1 left joins cannot fan out because
    # each is unique on doc_id), and ALL funnel counts — including the
    # conditional BPE token sum, evaluated only on final survivors —
    # come out of ONE wide aggregate over one pass of the corpus.
    # n_exact_unique = count of exact_dedup reps (one per distinct
    # md5(text) by construction), so the separate full-text
    # countDistinct(md5) pass is gone. Values are unchanged; only the
    # number of times each subtree executes.
    reps = durable_checkpoint(
        exact_dedup(docs).select(F.col("rep_doc_id").alias("doc_id")),
        eager=False,  # compact: one id per distinct text
    )
    members = (
        shared_duplicate_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    flagged = docs.join(
        reps.withColumn("__rep", F.lit(True)), "doc_id", "left"
    ).join(members.withColumn("__mem", F.lit(True)), "doc_id", "left")
    is_rep = F.coalesce("__rep", F.lit(False))
    is_mem = F.coalesce("__mem", F.lit(False))
    is_cleaned = is_rep & ~is_mem
    is_train = is_cleaned & (F.col("doc_id") % 17 != 0)

    # eval samples the RAW corpus (benchmarks are built from raw text;
    # this is also what makes the screen non-vacuous — the cleaned
    # corpus is md5-distinct by construction, so a cleaned-vs-cleaned
    # exact screen could only catch whitespace/case twins): a planted
    # verbatim copy whose id lands in the eval residue leaks its
    # surviving original into the train side, and the screen must
    # catch it
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr = flagged.filter(is_train).select("doc_id", "text")
    contaminated = durable_checkpoint(
        exact_contamination(tr, ev)
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct(),
        eager=False,  # tiny: leaked train ids
    )
    full = flagged.join(
        contaminated.withColumn("__cont", F.lit(True)), "doc_id", "left"
    )
    is_cont = F.coalesce("__cont", F.lit(False))
    is_final = is_train & ~is_cont
    return full.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_rep.cast("bigint")).alias("n_exact_unique"),
        F.sum(is_mem.cast("bigint")).alias("n_near_members"),
        F.sum(is_cleaned.cast("bigint")).alias("n_cleaned"),
        F.sum(is_cont.cast("bigint")).alias("n_contaminated_train"),
        F.sum(is_final.cast("bigint")).alias("n_final"),
        F.sum(F.when(is_final, bpe_token_count("text") + 1)).alias("__tok"),
    ).select(
        "n_docs",
        "n_exact_unique",
        "n_near_members",
        "n_cleaned",
        "n_contaminated_train",
        "n_final",
        F.expr("CAST((__tok + 511) DIV 512 AS BIGINT)").alias("n_packed_seqs"),
    )
