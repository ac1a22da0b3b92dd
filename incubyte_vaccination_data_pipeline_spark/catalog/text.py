"""Text-analysis queries over ``documents`` (operators/text.py logic;
oracles generated from the same profiles/constants so the two sides
cannot drift)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.operators.sampling import (
    split_bucket_expr,
    split_bucket_sql,
)
from incubyte_vaccination_data_pipeline_spark.operators.text import (
    FINGERPRINT_MOD,
    FINGERPRINT_PREFIX,
    LANG_PROFILES,
    TOKEN_REGEX,
    bpe_token_count,
    fingerprint_frame,
    language_id,
    language_scores,
    punct_count,
    quality_score,
    word_count,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

_WORDS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _score_sql(stopwords: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter({_WORDS_SQL}, t -> list_contains([{quoted}], t)))"


def _lang_case_sql() -> str:
    langs = list(LANG_PROFILES)
    whens = []
    for lang in langs:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


@query(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS lang_meta,
               {', '.join(f'{_score_sql(sw)} AS s_{lang}' for lang, sw in LANG_PROFILES.items())}
        FROM documents
    )
    SELECT doc_id, lang_meta,
           {', '.join(f's_{lang}' for lang in LANG_PROFILES)},
           {_lang_case_sql()} AS lang_pred
    FROM scored
    """,
)
def text_language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language id with per-language scores and
    deterministic priority tie-break."""
    docs = read_table(spark, sf_dir, "documents")
    scores = language_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        *[scores[lang].alias(f"s_{lang}") for lang in LANG_PROFILES],
        language_id("text").alias("lang_pred"),
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_WORDS_SQL}) AS n_words,
           len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_bpe_tokens,
           length(text) AS n_chars_actual,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS n_punct
    FROM documents
    """,
)
def text_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_count("text").alias("n_words"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        punct_count("text").alias("n_punct"),
    )


_EN_HITS = _score_sql(LANG_PROFILES["en"])

@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.3 * least((CAST({_EN_HITS} AS DOUBLE)
                                / len({_WORDS_SQL})) * 4.0, 1.0)
                 + 0.2 * (CASE WHEN length(text) * 1.0 / len({_WORDS_SQL})
                                    BETWEEN 3.0 AND 9.0
                               THEN 1.0 ELSE 0.5 END)
                 + 0.1 * (1.0 - least((length(text)
                                       - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                      * 1.0 / length(text) * 10.0, 1.0)), 6)
               AS quality
    FROM documents
    """,
)
def text_quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / stopword / word-shape /
    punctuation signals)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


#: the same 6-dp composite quality expression text_quality_score's
#: oracle states inline (kept as one constant so the weighted-sampler
#: oracle can never drift from the score definition)
_QUALITY_SQL = f"""round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.3 * least((CAST({_EN_HITS} AS DOUBLE)
                                / len({_WORDS_SQL})) * 4.0, 1.0)
                 + 0.2 * (CASE WHEN length(text) * 1.0 / len({_WORDS_SQL})
                                    BETWEEN 3.0 AND 9.0
                               THEN 1.0 ELSE 0.5 END)
                 + 0.1 * (1.0 - least((length(text)
                                       - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                      * 1.0 / length(text) * 10.0, 1.0)), 6)"""


@query(
    "sample_quality_weighted",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               {split_bucket_sql("CAST(doc_id AS VARCHAR)", "qsample-v1")} AS accept_bucket,
               {_QUALITY_SQL} AS quality
        FROM documents
    )
    SELECT doc_id, accept_bucket, quality
    FROM scored
    WHERE accept_bucket / 65536.0 < quality
    """,
)
def sample_quality_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted rejection sampling: keep a document with
    probability equal to its composite quality score — the standard
    corpus-curation downsampler (high-quality docs survive, low-quality
    docs are thinned proportionally) made DETERMINISTIC and
    content-addressed: accept iff u01(doc_id) < quality, where u01 is
    the md5-bucket arithmetic of the split/sample family under its own
    salt.  A document keeps its fate across runs, engines, and corpus
    growth; the acceptance predicate is a scan-side filter (no
    shuffle, no sample(), no RNG state), so at 100 TB the sampler is
    free.  The oracle restates bucket and score exactly and re-applies
    the same inequality — a full value check over the kept rows."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = split_bucket_expr("doc_id", salt="qsample-v1")
    return (
        docs.select(
            "doc_id",
            bucket.alias("accept_bucket"),
            quality_score("text").alias("quality"),
        )
        .filter(F.col("accept_bucket") / F.lit(65536.0) < F.col("quality"))
    )


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)

@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS content_md5,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       range(1, least(length({_NORM_SQL}), {FINGERPRINT_PREFIX}) + 1),
                       i -> CAST(ord(substr({_NORM_SQL}, i, 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % {FINGERPRINT_MOD}) AS rolling_hash
    FROM documents
    """,
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized-content md5 + polynomial
    rolling hash of the 64-char prefix (distributed positional-power
    form — see operators/text.py fingerprint_frame)."""
    return fingerprint_frame(read_table(spark, sf_dir, "documents"))


@query(
    "text_lateral_token_freq",
    oracle="""
    SELECT tok,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents)
    WHERE length(tok) >= 3
    GROUP BY tok
    """,
)
def text_lateral_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/lateral surface (the UDTF shape): explode each
    document into token rows, then corpus-wide term + document
    frequency. The explode is a narrow op — the only shuffle is the
    map-side-combinable token aggregation, so the plan scales with the
    token count, not the document width."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= 3)
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks WHERE length(tok) >= 3
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, tok, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rn
        FROM scored
    )
    SELECT doc_id, tok, tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: each document's three most distinctive terms. Term
    frequency is a (doc, token) aggregate; document frequency reuses
    that aggregate (one extra shuffle on token); the corpus size is a
    1-row broadcast; the final top-3 is a window over the doc key with
    a lexicographic tie-break. Smoothed idf = ln((N+1)/(df+1)) —
    exact integer inputs, so the 6-dp round is engine-stable."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= 3)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", "rn")
    )


#: Repetition flags (Gopher-style quality rules): a doc whose single
#: most frequent word exceeds this fraction of all words, or whose
#: distinct-word fraction falls below the floor, is "repetitive".
#: Thresholds sit at ~p90 / ~p05 of the testdata distribution so the
#: flag discriminates instead of being constant.
TOP_WORD_FRAC_MAX = 0.14
DISTINCT_FRAC_MIN = 0.30


@query(
    "text_repetition_ratios",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ),
    uc AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS tok FROM w)
        GROUP BY doc_id, tok
    ),
    us AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct_words, MAX(c) AS top_n
        FROM uc GROUP BY doc_id
    ),
    bc AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1])) AS g
              FROM w WHERE len(ws) >= 2)
        GROUP BY doc_id, g
    ),
    bs AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
        FROM bc GROUP BY doc_id
    )
    SELECT us.doc_id, n_words, n_distinct_words,
           round(top_n * 1.0 / n_words, 6) AS top_word_frac,
           round(n_distinct_words * 1.0 / n_words, 6) AS distinct_frac,
           coalesce(round(top_bigram_n * 1.0 / n_bigrams, 6), 0.0)
               AS top_bigram_frac,
           (top_n * 1.0 / n_words > {TOP_WORD_FRAC_MAX}
            OR n_distinct_words * 1.0 / n_words < {DISTINCT_FRAC_MIN})
               AS repetitive
    FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
    """,
)
def text_repetition_ratios_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules: per-document word count,
    distinct-word fraction, most-frequent-word fraction, and
    most-frequent-bigram fraction, with a ``repetitive`` flag.

    Plan shape: ONE scan — unigrams and bigrams explode together as
    (kind, gram) structs from the same words array — feeding a
    two-level aggregate: (doc, kind, gram) counts with map-side
    combine, then a per-doc conditional rollup. Exactly two shuffles,
    both keyed by the document id (or its gram refinement), no join,
    and no per-doc array ever reaches the driver. One-word docs have
    no bigram rows; their fraction is defined as 0 via coalesce."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    tagged = F.expr(
        "concat("
        " transform(ws, t -> struct(0 AS kind, t AS gram)),"
        " CASE WHEN size(ws) >= 2 THEN"
        "  transform(sequence(1, size(ws) - 1),"
        "   i -> struct(1 AS kind, concat_ws(' ', slice(ws, i, 2)) AS gram))"
        "  ELSE array() END)"
    )
    gc = (
        w.select("doc_id", F.explode(tagged).alias("p"))
        .select("doc_id", F.col("p.kind").alias("kind"), F.col("p.gram").alias("gram"))
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_uni = F.col("kind") == 0
    per = gc.groupBy("doc_id").agg(
        F.sum(F.when(is_uni, F.col("c"))).alias("n_words"),
        F.count(F.when(is_uni, F.lit(1))).alias("n_distinct_words"),
        F.max(F.when(is_uni, F.col("c"))).alias("top_n"),
        F.sum(F.when(~is_uni, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(~is_uni, F.col("c"))).alias("top_bigram_n"),
    )
    top_word_frac = F.col("top_n") / F.col("n_words")
    distinct_frac = F.col("n_distinct_words") / F.col("n_words")
    return per.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(distinct_frac, 6).alias("distinct_frac"),
        F.coalesce(
            F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6), F.lit(0.0)
        ).alias("top_bigram_frac"),
        (
            (top_word_frac > F.lit(TOP_WORD_FRAC_MAX))
            | (distinct_frac < F.lit(DISTINCT_FRAC_MIN))
        ).alias("repetitive"),
    )


#: Boilerplate detection: word 5-grams shared by at least this many
#: distinct documents (the CCNet/RefinedWeb-style repeated-passage
#: signal — navigation chrome, licenses, templates).
BOILERPLATE_NGRAM_N = 5
BOILERPLATE_MIN_DOCS = 3


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - {BOILERPLATE_NGRAM_N - 2}),
                      i -> array_to_string(ws[i:i + {BOILERPLATE_NGRAM_N - 1}], ' ')))
                   AS gram
        FROM w WHERE len(ws) >= {BOILERPLATE_NGRAM_N}
    )
    SELECT gram,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM g GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    """,
)
def text_boilerplate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: word 5-grams appearing in >= 3
    distinct documents, with document and occurrence counts — the
    repeated-passage inventory a cleaning pipeline subtracts before
    training.

    Plan shape: narrow explode, then a single gram-keyed aggregate
    (map-side combine carries (gram, doc) partials). At corpus scale
    the gram STRING is the natural output (it is the deliverable), but
    the aggregate key can be swapped for a 64-bit gram hash with a
    rare-collision join-back if key width ever dominates the
    shuffle — the same trick ``operators/contamination.py`` uses."""
    docs = read_table(spark, sf_dir, "documents")
    n = BOILERPLATE_NGRAM_N
    grams = F.expr(
        f"CASE WHEN size(ws) >= {n} THEN"
        f" transform(sequence(1, size(ws) - {n - 1}),"
        f" i -> concat_ws(' ', slice(ws, i, {n})))"
        f" ELSE array() END"
    )
    return (
        docs.select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
        )
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


@query(
    "text_normalized_exact_dedup",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS norm_hash
        FROM documents
    )
    SELECT norm_hash, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
    FROM norm GROUP BY norm_hash
    """,
)
def text_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation/case/whitespace-insensitive exact dedup: normalize
    (lower, collapse every non-alnum run to one space, trim) then
    hash-groupBy — the cheap normalization layer between byte-exact
    dedup and MinHash. One shuffle with map-side combine, same as
    ``dedup_exact``."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        docs.select(F.md5(norm).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: hashing-trick feature dimension (HashingTF shape)
HASHING_TF_DIM = 32

from incubyte_vaccination_data_pipeline_spark.operators.dedup import (  # noqa: E402
    md5_half_decode_sql as _md5_decode,
)

_HTF_BUCKET_DUCK = f"({_md5_decode('md5(tok)', 1, 'strpos')} % {HASHING_TF_DIM})"


@query(
    "text_hashing_tf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents
    ),
    counts AS (
        SELECT doc_id,
               {_HTF_BUCKET_DUCK} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, {_HTF_BUCKET_DUCK}
    ),
    grid AS (
        SELECT d.doc_id, b.bucket
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN (SELECT unnest(range({HASHING_TF_DIM})) AS bucket) b
    ),
    filled AS (
        SELECT g.doc_id, g.bucket, COALESCE(c.tf, 0) AS tf
        FROM grid g LEFT JOIN counts c
          ON g.doc_id = c.doc_id AND g.bucket = c.bucket
    )
    SELECT doc_id,
           array_to_string(list(tf ORDER BY bucket), ',') AS tf_vector
    FROM filled GROUP BY doc_id
    """,
)
def text_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency vectors (the HashingTF feature
    shape): every token hashes to one of HASHING_TF_DIM buckets via
    the repo's md5 positional decode (bit-identical in both engines),
    and each document emits its dense bucket-count vector — the
    fixed-width feature assembly step an ML pipeline feeds downstream.

    Plan shape: explode -> (doc, bucket) count with map-side combine
    -> per-doc map assembly -> dense vector via a sequence transform
    (no per-doc grid join on the Spark side; the oracle uses the
    equivalent grid restatement). Collision behavior is part of the
    contract: a bucket's tf sums all colliding tokens. The vector is
    rendered as a canonical comma-joined string for the driver's
    value compare (array cells don't hash)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.expr(
        f"pmod({_md5_decode('md5(tok)', 1)}, {HASHING_TF_DIM})"
    )
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dense = F.expr(
        f"transform(sequence(0, {HASHING_TF_DIM - 1}),"
        f" b -> coalesce(try_element_at(m, cast(b as bigint)), cast(0 as bigint)))"
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "tf"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.array_join(dense.cast("array<string>"), ",").alias("tf_vector"),
        )
    )
