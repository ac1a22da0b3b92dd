"""Training-corpus text operators, batch 2: PII redaction, sliding
window chunking, and the quality-filter funnel.

``text_pii_redaction`` — the scrubbing pass every pre-training
pipeline runs before a corpus ships. The synthetic ``documents`` text
contains no PII, so the query first *derives* a PII-bearing variant
deterministically from ``doc_id`` (the same derive-then-verify pattern
as ``snapshot_diff_orders``: both engines restate the identical
derivation, so the redaction logic itself is what the oracle checks),
then masks emails / NANP-style phone numbers / IPv4 addresses with
typed placeholders and reports per-type match counts. All regex work
is JVM-side ``regexp_replace`` / ``regexp_count`` — codegen'd, no UDF;
patterns are restricted to the RE2 ∩ Java-regex common subset so both
engines compile them identically.

``text_chunk_overlap`` — fixed-size sliding-window chunking (window
32 tokens, stride 24) that turns documents into training samples.
Chunk starts are generated distributed via ``sequence`` + ``explode``
(one row per chunk, never a driver loop); the chunk itself is an
``slice`` + ``array_join`` over the tokenized text. Chunking rule:
chunk ``i`` covers tokens ``[i*stride, i*stride + window)`` for
``i`` in ``0 .. floor((n_tokens-1)/stride)`` — full coverage, short
tail chunks allowed, restated verbatim by the oracle.

``text_filter_funnel`` — sequential quality-gate attrition (the
C4/Gopher-style keep/drop report): word-count floor, mean-word-length
band, distinct-token ratio, stopword presence, applied in order, with
per-source survivor counts at every stage. ONE scan, conditional
aggregates only — the funnel needs no joins and no explode because
every rule is an array expression over the tokenized text.

Reference parity: the reference has no text surface; these extend the
LLM-pipeline family required beyond it (see also ``text.py``,
``operators/text.py``).

100 TB posture: all three are single-scan; redaction and funnel are
pure per-row expressions (embarrassingly parallel, no shuffle except
the funnel's tiny per-source aggregate); chunking's only growth is
its output (~n_tokens/stride rows per doc), which is the product the
pipeline exists to make.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog.registry import query
from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
    md5_half_decode_sql,
    substring_dup_coverage,
    substring_dup_stats,
    substring_gram_frames,
)
from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import durable_checkpoint
from incubyte_vaccination_data_pipeline_spark.shared_cache import shared
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

# regex subset valid in both Java regex (Spark) and RE2 (DuckDB)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# deterministic PII derivation (both engines restate it; the point
# under test is the masking, not the synthesis)
_DIRTY_SQL = (
    "text || ' contact user' || doc_id || '@example.com or +1-' "
    "|| lpad(CAST(500 + doc_id % 500 AS STRING), 3, '0') || '-' "
    "|| lpad(CAST(doc_id % 10000 AS STRING), 4, '0') "
    "|| ' from 10.' || CAST(doc_id % 256 AS STRING) || '.' "
    "|| CAST((doc_id * 7) % 256 AS STRING) || '.' "
    "|| CAST((doc_id * 13) % 256 AS STRING)"
)


@query(
    "text_pii_redaction",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id, source, {_DIRTY_SQL} AS t FROM documents
    )
    SELECT doc_id,
           source,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS INT) AS n_ips,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
                 '{_IP_RE}', '<IP>', 'g')) AS redacted_md5
    FROM dirty
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask emails / phones / IPv4s with typed placeholders and count
    matches per type. Pure codegen'd regexp expressions over one scan
    — the shape that redacts a 100 TB corpus at scan speed."""
    docs = read_table(spark, sf_dir, "documents")
    dirty = docs.select("doc_id", "source", F.expr(_DIRTY_SQL).alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(_PHONE_RE),
            F.lit("<PHONE>"),
        ),
        F.lit(_IP_RE),
        F.lit("<IP>"),
    )
    return dirty.select(
        "doc_id",
        "source",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(_IP_RE)).cast("int").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


_CHUNK = 32
_STRIDE = 24


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    )
    SELECT t.doc_id,
           CAST(i.i AS INT) AS chunk_id,
           CAST(len(list_slice(t.ws, i.i * {_STRIDE} + 1,
                               i.i * {_STRIDE} + {_CHUNK})) AS INT) AS n_tokens,
           md5(array_to_string(
                 list_slice(t.ws, i.i * {_STRIDE} + 1,
                            i.i * {_STRIDE} + {_CHUNK}), ' ')) AS chunk_md5
    FROM toks t,
         LATERAL (SELECT UNNEST(generate_series(
                    0, (len(t.ws) - 1) // {_STRIDE})) AS i) i
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: window 32 tokens, stride
    24. ``sequence``+``explode`` generates chunk indices
    distributed; each chunk is ``slice``+``array_join`` — no UDF, no
    shuffle, output-bound growth only."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    n = F.size("ws")
    exploded = toks.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), ((n - F.lit(1)) / F.lit(_STRIDE)).cast("int"))
        ).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("ws"), F.col("chunk_id") * _STRIDE + 1, _CHUNK
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


_STOPWORDS = ["the", "a", "of", "and", "to"]
_MIN_WORDS = 30
_WLEN_LO = 2.0
_WLEN_HI = 12.0
_DISTINCT_FLOOR = 0.3


@query(
    "text_filter_funnel",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    ),
    rules AS (
        SELECT source,
               len(ws) >= {_MIN_WORDS} AS r1,
               len(array_to_string(ws, '')) * 1.0 / len(ws)
                   BETWEEN {_WLEN_LO} AND {_WLEN_HI} AS r2,
               len(list_distinct(ws)) * 1.0 / len(ws)
                   >= {_DISTINCT_FLOOR} AS r3,
               list_has_any(ws, {_STOPWORDS!r}) AS r4
        FROM toks
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_minlen,
           CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_wordlen,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_distinct,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_all
    FROM rules
    GROUP BY source
    """,
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-gate attrition per source: word-count floor
    → mean-word-length band → distinct-token ratio → stopword
    presence. One scan, conditional aggregates; every rule is an
    array expression (no explode), so the funnel costs one tiny
    per-source shuffle regardless of corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    n = F.size("ws")
    mean_wlen = F.length(F.array_join(F.col("ws"), "")) / n
    r1 = n >= _MIN_WORDS
    r2 = (mean_wlen >= _WLEN_LO) & (mean_wlen <= _WLEN_HI)
    r3 = F.size(F.array_distinct("ws")) / n >= _DISTINCT_FLOOR
    r4 = F.arrays_overlap("ws", F.array(*[F.lit(s) for s in _STOPWORDS]))
    rules = toks.select(
        "source",
        r1.alias("r1"),
        r2.alias("r2"),
        r3.alias("r3"),
        r4.alias("r4"),
    )
    as_long = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_long(F.col("r1")).alias("pass_minlen"),
        as_long(F.col("r1") & F.col("r2")).alias("pass_wordlen"),
        as_long(F.col("r1") & F.col("r2") & F.col("r3")).alias("pass_distinct"),
        as_long(F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4")).alias(
            "pass_all"
        ),
    )


_BPE_TOP2 = 20


@query(
    "text_bpe_apply_merge",
    oracle=f"""
    WITH words AS (
        SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, COUNT(*) AS n FROM words
        WHERE len(w) >= 2 AND strpos(w, chr(1)) = 0 GROUP BY w
    ),
    p1 AS (
        SELECT substr(wc.w, i.i, 2) AS pair, SUM(wc.n) AS cnt
        FROM wc, LATERAL (SELECT UNNEST(generate_series(1, len(wc.w) - 1)) AS i) i
        GROUP BY 1
    ),
    top1 AS (SELECT pair AS mp FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
    marked AS (
        SELECT replace(w, mp, chr(1)) AS mw, n, mp FROM wc, top1
    ),
    p2 AS (
        SELECT m.mp, replace(substr(m.mw, i.i, 2), chr(1), m.mp) AS pair, m.n
        FROM marked m,
             LATERAL (SELECT UNNEST(generate_series(1, len(m.mw) - 1)) AS i) i
        WHERE len(m.mw) >= 2
    )
    SELECT mp AS merge_applied, pair,
           CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM p2 GROUP BY 1, 2
    ORDER BY n_occurrences DESC, pair
    LIMIT {_BPE_TOP2}
    """,
)
def text_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE tokenizer-training iteration materialized: learn
    the best merge from corpus-weighted pair counts (max count,
    lexicographic tie-break), APPLY it to the word symbol table, and
    recount — the loop body of BPE training, where
    ``text_bpe_merge_candidates`` is only the first count. The merge
    application is Spark's native ``replace`` (greedy left-to-right
    non-overlapping, identical semantics in DuckDB), with the merged
    token carried as a single sentinel symbol (``chr(1)``) so
    iteration-2 pairs are SYMBOL pairs, not character pairs — exactly
    how a production trainer represents its growing vocabulary; output
    pair labels expand the sentinel back for readability.

    Scale design (the reason BPE training is feasible at 100 TB): all
    per-iteration work runs over the DISTINCT-WORD table weighted by
    corpus frequency — vocabulary-bounded (millions of rows), never
    corpus-bounded (trillions); the winning merge is a one-row
    aggregate broadcast back (never a driver-side argmax over a
    collect); each iteration adds one narrow map stage + one keyed
    count. Words are pre-filtered to exclude the sentinel char on both
    engines, and merged-to-single-symbol words drop out of pair
    generation explicitly (Spark's ``sequence(1, 0)`` is a DESCENDING
    sequence, not empty — the ``length >= 2`` filter keeps the two
    engines' explode domains identical)."""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter((F.length("w") >= 2) & (F.expr("instr(w, chr(1))") == 0))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # wc feeds both the iteration-1 count (top merge) and the marked
    # re-expansion; checkpoint the compact vocabulary frame so the two
    # branches share one scan + aggregate (self-join subtree policy).
    wc = durable_checkpoint(wc, eager=False)
    p1 = (
        wc.select(
            F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"), "w", "n"
        )
        .select(F.expr("substr(w, i, 2)").alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
    )
    top1 = p1.agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("pair").alias("p"))).alias(
            "s"
        )
    ).select(F.col("s.p").alias("mp"))
    marked = wc.crossJoin(F.broadcast(top1)).select(
        F.expr("replace(w, mp, chr(1))").alias("mw"), "n", "mp"
    )
    p2 = (
        marked.filter(F.length("mw") >= 2)
        .select(
            F.explode(F.expr("sequence(1, length(mw) - 1)")).alias("i"),
            "mw",
            "n",
            "mp",
        )
        .select(
            "mp",
            F.expr("replace(substr(mw, i, 2), chr(1), mp)").alias("pair"),
            "n",
        )
    )
    return (
        p2.groupBy("mp", "pair")
        .agg(F.sum("n").cast("bigint").alias("n_occurrences"))
        .select(F.col("mp").alias("merge_applied"), "pair", "n_occurrences")
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(_BPE_TOP2)
    )


# --- asymmetric containment dedup ---------------------------------------
#
# Doc-in-doc duplication (quotes, boilerplate, snippet reposts) that
# symmetric Jaccard misses: containment C(A→B) = |grams(A) ∩ grams(B)|
# / |grams(A)| is ~1 when A is inside a much larger B while J(A,B) is
# tiny. Candidate generation is the rare-gram inverted-index trick:
# each probe doc contributes its ``_PROBE_GRAMS`` lowest-document-
# frequency shingles, which are equi-joined against the corpus gram
# index — candidates per probe are bounded by those grams' DF, never
# all-pairs. (Recall is heuristic like LSH: a true match can hide if
# all chosen grams fall in the missing 1-c fraction; with c = 0.8 and
# rarest-first selection this is vanishing in practice and the
# guarantee-complete alternative — probing ⌈(1-c)·|A|⌉+1 grams — is a
# parameter change, not a design change.)
#
# The probe corpus is derived: every 7th document's 40% token prefix
# becomes a "snippet" (a quote of its source), so both engines
# restate the derivation and every snippet has a known true source
# with containment exactly 1.0.

_SNIP_MOD = 7
_SNIP_OFFSET = 5_000_000
_SHINGLE_K = 3
_PROBE_GRAMS = 5
_MIN_CONTAIN = 0.8

_CONTAIN_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    ),
    dgrams AS (
        SELECT DISTINCT t.doc_id AS doc,
               array_to_string(list_slice(t.ws, i.i, i.i + {_SHINGLE_K - 1}), ' ')
                   AS gram
        FROM toks t,
             LATERAL (SELECT UNNEST(generate_series(
                        1, len(t.ws) - {_SHINGLE_K - 1})) AS i) i
        WHERE len(t.ws) >= 3
    ),
    snips AS (
        SELECT doc_id + 5000000 AS sid,
               list_slice(ws, 1,
                   GREATEST(10, CAST(FLOOR(len(ws) * 2.0 / 5) AS BIGINT))) AS sws
        FROM toks
        WHERE doc_id % 7 = 0 AND len(ws) >= 10
    ),
    sgrams AS (
        SELECT DISTINCT s.sid,
               array_to_string(list_slice(s.sws, i.i, i.i + {_SHINGLE_K - 1}), ' ')
                   AS gram
        FROM snips s,
             LATERAL (SELECT UNNEST(generate_series(
                        1, len(s.sws) - {_SHINGLE_K - 1})) AS i) i
        WHERE len(s.sws) >= 3
    ),
    df AS (SELECT gram, COUNT(*) AS df FROM dgrams GROUP BY gram),
    probes AS (
        SELECT sid, gram FROM (
            SELECT s.sid, s.gram,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.sid
                       ORDER BY COALESCE(d.df, 0), s.gram) AS rn
            FROM sgrams s LEFT JOIN df d ON s.gram = d.gram
        ) WHERE rn <= 5
    ),
    cand AS (
        SELECT DISTINCT p.sid, g.doc
        FROM probes p JOIN dgrams g ON p.gram = g.gram
    ),
    asize AS (SELECT sid, COUNT(*) AS na FROM sgrams GROUP BY sid),
    verified AS (
        SELECT c.sid, c.doc, COUNT(*) AS n_common
        FROM cand c
        JOIN sgrams s ON s.sid = c.sid
        JOIN dgrams g ON g.doc = c.doc AND g.gram = s.gram
        GROUP BY c.sid, c.doc
    )
    SELECT sid, doc AS matched_doc, containment, n_candidates
    FROM (
        SELECT v.sid, v.doc,
               round(CAST(v.n_common AS DOUBLE) / a.na, 6) AS containment,
               CAST(COUNT(*) OVER (PARTITION BY v.sid) AS BIGINT)
                   AS n_candidates,
               ROW_NUMBER() OVER (
                   PARTITION BY v.sid
                   ORDER BY CAST(v.n_common AS DOUBLE) / a.na DESC, v.doc)
                   AS rn
        FROM verified v JOIN asize a ON v.sid = a.sid
        WHERE CAST(v.n_common AS DOUBLE) / a.na >= 0.8
    ) WHERE rn = 1
"""


def _containment_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )


def _containment_grams(df: DataFrame, id_col: str, arr: str) -> DataFrame:
    g = df.filter(F.size(arr) >= _SHINGLE_K).select(
        F.col(id_col),
        F.explode(
            F.expr(f"sequence(1, size({arr}) - {_SHINGLE_K - 1})")
        ).alias("i"),
        F.col(arr),
    )
    return g.select(
        id_col,
        F.expr(
            f"array_join(slice({arr}, i, 3), ' ')"
        ).alias("gram"),
    ).distinct()


def _shared_doc_grams(spark: SparkSession, sf_dir: str):
    """The corpus-side inverted index — the distinct (doc, 3-gram)
    frame and its document-frequency counts — built ONCE per (Spark
    app, corpus) like the MinHash signature index (ANALYZE-style
    structures are per table version, not per query): the gram
    explode+distinct is the query's dominant cost and is
    probe-set-independent, so rebuilding it per call (the round-8
    shape: per-call lazy localCheckpoint) paid the corpus scan on
    every execution.  The shared frame is the same LogicalRDD
    checkpoint shape, so the downstream analyzed plan (and driver
    fingerprint) is unchanged."""

    def build():
        toks = _containment_tokens(spark, sf_dir)
        dgrams = durable_checkpoint(
            _containment_grams(
                toks.select(F.col("doc_id").alias("doc"), "ws"), "doc", "ws"
            )
        )
        df_counts = (
            dgrams.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).persist()
        )
        return dgrams, df_counts

    return shared(spark, sf_dir, "doc_grams", build)


@query("text_containment_dedup", _CONTAIN_ORACLE)
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment matching: derived snippet probes →
    rarest-5-gram inverted-index candidates → exact
    containment verify → best match per probe. Every join is an
    equi-join on a gram or id; the corpus gram index and its
    document frequencies are build-once per corpus
    (:func:`_shared_doc_grams`), the snippet grams checkpoint once
    per call because index probe and verification both consume them."""
    toks = _containment_tokens(spark, sf_dir)
    dgrams, df_counts = _shared_doc_grams(spark, sf_dir)

    snips = toks.filter(
        (F.col("doc_id") % _SNIP_MOD == 0) & (F.size("ws") >= 10)
    ).select(
        (F.col("doc_id") + _SNIP_OFFSET).alias("sid"),
        F.expr(
            "slice(ws, 1, greatest(10, cast(floor(size(ws) * 2.0 / 5) as int)))"
        ).alias("sws"),
    )
    sgrams = durable_checkpoint(
        _containment_grams(snips, "sid", "sws"), eager=False
    )
    ranked = sgrams.join(df_counts, "gram", "left").select(
        "sid",
        "gram",
        F.row_number()
        .over(
            Window.partitionBy("sid").orderBy(
                F.coalesce("df", F.lit(0)), "gram"
            )
        )
        .alias("rn"),
    )
    probes = ranked.filter(F.col("rn") <= _PROBE_GRAMS).select("sid", "gram")
    cand = probes.join(dgrams, "gram").select("sid", "doc").distinct()

    asize = sgrams.groupBy("sid").agg(F.count(F.lit(1)).alias("na"))
    verified = (
        cand.join(sgrams, "sid")
        .join(dgrams, ["doc", "gram"])
        .groupBy("sid", "doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = verified.join(asize, "sid").select(
        "sid",
        "doc",
        (F.col("n_common").cast("double") / F.col("na")).alias("c_raw"),
    ).filter(F.col("c_raw") >= _MIN_CONTAIN)
    w = Window.partitionBy("sid")
    ranked2 = scored.select(
        "sid",
        "doc",
        "c_raw",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_candidates"),
        F.row_number()
        .over(w.orderBy(F.desc("c_raw"), "doc"))
        .alias("rn"),
    )
    return ranked2.filter(F.col("rn") == 1).select(
        "sid",
        F.col("doc").alias("matched_doc"),
        F.round("c_raw", 6).alias("containment"),
        "n_candidates",
    )


# --- perplexity-style LM scoring -----------------------------------------
#
# The perplexity filter: score every document by the average surprisal
# of its bigrams under the corpus's own add-one-smoothed bigram LM —
# the standard "how unlike the corpus is this document" quality signal
# used before pretraining. Determinism: probabilities are exact
# rationals from integer counts; each term's -log2 p is quantized with
# floor(x * 1024) BEFORE summing, so the per-doc aggregate is an exact
# BIGINT sum (order-independent) and a 1-ulp libm-vs-JVM difference in
# log2 would need to land within ~4e-11 of a 1/1024 boundary to flip a
# value — vanishing at any corpus size (the same quantize-then-sum
# strategy as PageRank/k-means/PCA, with the quantization width set by
# the precision a quality score needs).

_PPL_Q = 1024

_PPL_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    ),
    occ AS (
        SELECT t.doc_id, t.ws[i.i] AS w1, t.ws[i.i + 1] AS w2
        FROM toks t,
             LATERAL (SELECT UNNEST(generate_series(1, len(t.ws) - 1)) AS i) i
        WHERE len(t.ws) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM occ GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM occ GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM occ),
    scored AS (
        SELECT o.doc_id,
               CAST(FLOOR(log2(CAST(c1.n1 + v.vocab AS DOUBLE)
                               / (c12.n12 + 1)) * 1024) AS BIGINT) AS q
        FROM occ o
        JOIN c12 ON o.w1 = c12.w1 AND o.w2 = c12.w2
        JOIN c1 ON o.w1 = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(q) AS BIGINT) AS surprisal_q,
           round(CAST(SUM(q) AS DOUBLE) / 1024 / COUNT(*), 6) AS avg_bits
    FROM scored
    GROUP BY doc_id
"""


@query("text_perplexity_bigram", _PPL_ORACLE)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average bigram surprisal per document under the corpus's own
    add-one bigram LM. One tokenize pass feeds the LM counts AND the
    scoring join (checkpointed); all joins are equi-joins on words.
    At 100 TB the LM tables are vocabulary-bounded, far smaller than
    the corpus, and the scoring join partitions by w1."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    ).filter(F.size("ws") >= 2)
    occ = durable_checkpoint(
        toks.select(
            "doc_id",
            F.explode(F.expr("sequence(1, size(ws) - 1)")).alias("i"),
            "ws",
        ).select(
            "doc_id",
            F.expr("ws[i - 1]").alias("w1"),
            F.expr("ws[i]").alias("w2"),
        ),
        eager=False,
    )

    c12 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = occ.agg(F.countDistinct("w2").alias("vocab"))

    scored = (
        occ.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                F.log2(
                    (F.col("n1") + F.col("vocab")).cast("double")
                    / (F.col("n12") + 1)
                )
                * _PPL_Q
            ).cast("bigint").alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("q").cast("bigint").alias("surprisal_q"),
        F.round(F.sum("q").cast("double") / _PPL_Q / F.count(F.lit(1)), 6).alias(
            "avg_bits"
        ),
    )


# --- tokenizer training prep ---------------------------------------------

_BPE_TOP = 20

_BPE_ORACLE = f"""
    WITH words AS (
        SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS n FROM words WHERE len(w) >= 2 GROUP BY w),
    pairs AS (
        SELECT substr(wc.w, i.i, 2) AS pair, wc.n
        FROM wc, LATERAL (SELECT UNNEST(generate_series(1, len(wc.w) - 1)) AS i) i
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
"""


@query("text_bpe_merge_candidates", _BPE_ORACLE)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: corpus-weighted
    adjacent-character pair counts, top 20 merge candidates.
    The pair explode runs over DISTINCT words weighted by their corpus
    frequency — the standard trick that makes tokenizer training
    vocabulary-bounded instead of corpus-bounded (a 100 TB corpus has
    millions of distinct words, not trillions). Iterating BPE applies
    the winning merge to the word symbol table and repeats this exact
    counting shape."""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    pairs = wc.select(
        F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"), "w", "n"
    ).select(F.expr("substr(w, i, 2)").alias("pair"), "n")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(_BPE_TOP)
    )


# --- Zipf fit -----------------------------------------------------------

_ZIPF_TOP = 500


_TEXT_ZIPF_FIT_ORACLE = """
    WITH words AS (
        SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w, COUNT(*) AS n FROM words WHERE len(w) >= 1 GROUP BY w
    ),
    top AS (SELECT w, n FROM vocab ORDER BY n DESC, w LIMIT 500),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank FROM top
    ),
    q AS (
        SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1048576.0) AS BIGINT) AS xq,
               CAST(floor(ln(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS yq
        FROM ranked
    ),
    m AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx,
               CAST(SUM(yq * yq) AS BIGINT) AS syy
        FROM q
    )
    SELECT CAST(k AS BIGINT) AS n_tokens_fit,
           ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(k AS DOUBLE) / 1048576.0, 6) AS intercept,
           ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
    FROM m
"""


@query("text_zipf_fit", _TEXT_ZIPF_FIT_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution
    via log-log regression of frequency on rank for the top-500
    (_ZIPF_TOP) tokens — the corpus-linguistics sanity check (natural
    text slopes ~ -1; templated/synthetic text deviates) and a quality
    gate for generated-data detection. Ranks come from a top-k over
    the vocabulary aggregate (map-side-combinable count + distributed
    partial top-k; the regression then runs on a 500-row frame — the
    vocabulary-bounded pattern of the BPE family). Determinism: the
    log values are QUANTIZED to floor(ln(x) * 2^20) BIGINTs before
    summing (sums of floats are partition-order-dependent; sums of
    ints are exact — the perplexity recipe), and the slope/intercept
    combine those exact sums in one fixed float op sequence, rounded
    at 6dp.

    Emits one row: n_tokens_fit, slope, intercept, r2 — slope ~ -1 is
    the Zipf signature. (A ``.replace()`` on this literal previously
    made it an EXPRESSION, not a docstring — __doc__ was None and the
    QUERIES.md generator emitted an empty one-liner; ADVICE r7.)"""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 1)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    top = vocab.orderBy(F.desc("n"), "w").limit(_ZIPF_TOP)
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.partitionBy(F.lit(1)).orderBy(F.desc("n"), "w"))
        .alias("rank"),
    )
    q = ranked.select(
        F.expr("cast(floor(ln(cast(rank as double)) * 1048576.0D) as bigint)").alias("xq"),
        F.expr("cast(floor(ln(cast(n as double)) * 1048576.0D) as bigint)").alias("yq"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.expr("xq * yq")).alias("sxy"),
        F.sum(F.expr("xq * xq")).alias("sxx"),
        F.sum(F.expr("yq * yq")).alias("syy"),
    )
    scale = "1048576.0D"
    num = f"(cast(k as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
    denx = f"(cast(k as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    deny = f"(cast(k as double) * cast(syy as double) - cast(sy as double) * cast(sy as double))"
    return m.select(
        F.col("k").cast("bigint").alias("n_tokens_fit"),
        F.round(F.expr(f"{num} / {denx}"), 6).alias("slope"),
        F.round(
            F.expr(
                f"(cast(sy as double) - {num} / {denx} * cast(sx as double))"
                f" / cast(k as double) / {scale}"
            ),
            6,
        ).alias("intercept"),
        F.round(F.expr(f"{num} * {num} / ({denx} * {deny})"), 6).alias("r2"),
    )


# --- substring-level dedup ------------------------------------------------

#: substring-dedup contract: word-8-gram positions, duplicated =
#: appears in >= 2 distinct docs, flag at 20% duplicated positions.
SUBSTR_K = 8
SUBSTR_MIN_DOCS = 2
SUBSTR_FLAG_FRAC = 0.2


def _substr_frames(spark: SparkSession, sf_dir: str):
    """Per-(app, corpus) persisted :func:`substring_gram_frames`
    triple. Round 13: the stats and removal-plan queries each re-ran
    the word-8-gram explode + one-md5-per-occurrence hash AND
    re-shuffled the exploded frame on the gram key per
    materialization — the two heaviest non-streaming catalog entries
    (r12 verdict item 4). The shared triple pays the explode and the
    gram exchange once per corpus; both queries keep only their final
    per-doc aggregation as per-run work. Values are pinned identical
    to the unshared operator paths (tests/test_shared_cache.py)."""

    def build():
        pos, per_doc_gram, gram_docs = substring_gram_frames(
            read_table(spark, sf_dir, "documents"), k=SUBSTR_K
        )
        # persist only the two frames the registered queries consume
        # (stats reads per_doc_gram, coverage reads pos); gram_docs
        # stays lazy — pinning a corpus-sized per-gram frame in
        # executor storage with no consumer wastes storage memory and
        # evicts frames that ARE reused (r13 advice)
        return pos.persist(), per_doc_gram.persist(), gram_docs

    return shared(spark, sf_dir, "substr_frames", build)


_SUBSTR_V1 = md5_half_decode_sql("m", 1, "strpos")
_SUBSTR_V2 = md5_half_decode_sql("m", 9, "strpos")

_SUBSTR_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               md5(unnest(list_transform(
                   range(1, greatest(len(w) - {SUBSTR_K - 1}, 0) + 1),
                   i -> array_to_string(
                       list_slice(w, i, i + {SUBSTR_K - 1}), ' ')))) AS m
        FROM ws
    ),
    h AS (
        SELECT doc_id, {_SUBSTR_V1} AS v1, {_SUBSTR_V2} AS v2 FROM sh
    ),
    per AS (
        SELECT v1, v2, doc_id, CAST(COUNT(*) AS BIGINT) AS occ
        FROM h GROUP BY v1, v2, doc_id
    ),
    nd AS (
        SELECT v1, v2, CAST(COUNT(*) AS BIGINT) AS nd
        FROM per GROUP BY v1, v2
    ),
    stats AS (
        SELECT doc_id,
               CAST(SUM(occ) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN nd >= {SUBSTR_MIN_DOCS} THEN occ
                             ELSE 0 END) AS BIGINT) AS dup_shingles
        FROM per JOIN nd USING (v1, v2)
        GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, dup_shingles,
           round(CAST(dup_shingles AS DOUBLE) / n_shingles, 6) AS dup_frac,
           CAST(round(CAST(dup_shingles AS DOUBLE) / n_shingles, 6)
                >= {SUBSTR_FLAG_FRAC} AS INT) AS dup_heavy
    FROM stats
"""


@query("text_substring_dedup", _SUBSTR_ORACLE)
def text_substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring statistics over word-8-gram
    positions (``operators/dedup.substring_dup_stats``): n_shingles =
    k-gram positions, dup_shingles = positions whose k-gram occurs in
    >= 2 distinct documents, dup_frac rounded to 6 dp, dup_heavy at
    20%. The synthetic corpus's planted exact/near duplicates make the
    flag discriminate (pinned in tests) instead of being constant."""
    return substring_dup_stats(
        read_table(spark, sf_dir, "documents"),
        k=SUBSTR_K,
        min_docs=SUBSTR_MIN_DOCS,
        flag_frac=SUBSTR_FLAG_FRAC,
        frames=_substr_frames(spark, sf_dir),
    )


# --- BM25 retrieval -------------------------------------------------------

#: BM25 contract: standard Okapi parameters, 5 corpus-derived query
#: terms (highest df, len >= 4, ties by token), top 20 documents.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 5
BM25_TOP_K = 20
BM25_MIN_TOK_LEN = 4


_BM25_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE length(tok) >= {BM25_MIN_TOK_LEN}
        GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    q AS (
        SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT {BM25_N_TERMS}
    ),
    dl AS (
        SELECT doc_id, len(string_split(lower(text), ' ')) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    scored AS (
        SELECT tf.doc_id,
               round(SUM(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {BM25_K1 + 1.0})
                   / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))
               ), 6) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_query_terms
        FROM tf
        JOIN q USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, n_query_terms,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT doc_id, bm25, n_query_terms,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM scored
    )
    WHERE rank <= {BM25_TOP_K}
"""


@query("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for the corpus-derived 5-term query.

    Plan shape (the retrieval-filtering pass of corpus curation at
    scale): ONE (doc, token) aggregate feeds both document frequency
    and the query-term derivation; the 5-term query frame and the
    1-row corpus stats broadcast, so scoring touches only the postings
    of the 5 query terms (a broadcast-join prune, never a full-corpus
    re-scan); the global top-20 is ``orderBy().limit()`` — Spark's
    TakeOrdered, a per-partition heap + driver merge of 20-row heads,
    NOT a single-partition global sort — and the dense rank is a
    window over only the 20 surviving rows. idf = ln(1 + (N - df +
    0.5)/(df + 0.5)) (the non-negative Okapi variant); the 6-dp round
    of a <= 5-term double sum is engine-stable (same precedent as
    ``events_value_trend``)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= BM25_MIN_TOK_LEN)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "tok").limit(BM25_N_TERMS)
    dl = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / norm
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_query_terms"),
        )
    )
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOP_K)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w))


_REMOVAL_ORACLE = f"""
    WITH ws AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    eligible AS (
        SELECT doc_id, w FROM ws WHERE len(w) >= {SUBSTR_K}
    ),
    sh AS (
        SELECT doc_id,
               unnest(range(1, greatest(len(w) - {SUBSTR_K - 1}, 0) + 1)) AS pos,
               unnest(list_transform(
                   range(1, greatest(len(w) - {SUBSTR_K - 1}, 0) + 1),
                   i -> md5(array_to_string(
                       list_slice(w, i, i + {SUBSTR_K - 1}), ' ')))) AS m
        FROM eligible
    ),
    h AS (
        SELECT doc_id, pos, {_SUBSTR_V1} AS v1, {_SUBSTR_V2} AS v2 FROM sh
    ),
    nd AS (
        SELECT v1, v2, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM h GROUP BY v1, v2
    ),
    covered AS (
        SELECT doc_id, CAST(COUNT(DISTINCT wi) AS BIGINT) AS covered_words
        FROM (
            SELECT h.doc_id,
                   unnest(range(h.pos, h.pos + {SUBSTR_K})) AS wi
            FROM h JOIN nd USING (v1, v2)
            WHERE nd.nd >= {SUBSTR_MIN_DOCS})
        GROUP BY doc_id
    )
    SELECT e.doc_id,
           CAST(len(e.w) AS INT) AS n_words,
           COALESCE(c.covered_words, 0) AS covered_words,
           round(CAST(COALESCE(c.covered_words, 0) AS DOUBLE)
                 / len(e.w), 6) AS removal_frac
    FROM eligible e LEFT JOIN covered c USING (doc_id)
"""


@query("text_substring_removal_plan", _REMOVAL_ORACLE)
def text_substring_removal_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REMOVAL PLAN
    (``operators/dedup.substring_dup_coverage``): per document, the
    exact number of words inside at least one cross-document duplicated
    8-gram — the volume a span-deletion pass would remove, computed as
    the interval union of duplicated positions (positions overlap;
    ``text_substring_dedup`` counts positions, this counts deletable
    words). Docs with >= k words all appear, zero-coverage included."""
    return substring_dup_coverage(
        read_table(spark, sf_dir, "documents"),
        k=SUBSTR_K,
        min_docs=SUBSTR_MIN_DOCS,
        frames=_substr_frames(spark, sf_dir),
    )
