"""Dedup-family queries over ``documents`` (+ planted duplicates).

The synthetic corpus has no duplicates, so each query runs over an
augmented table with deterministic planted copies: exact dups
(``doc_id % 10 == 0`` re-inserted at +1,000,000) and near-dups
(``doc_id % 7 == 0`` with a 5-token tail at +2,000,000). Both engines
construct the same augmentation, so oracles validate detection, not
just plumbing. Operator logic lives in ``operators/dedup.py``; the
oracle SQL mirrors its md5-hex / positional-decode arithmetic exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)

from incubyte_vaccination_data_pipeline_spark.catalog.registry import (
    DEPRECATED,
    query,
)
from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
    HIER_ASSIGN_M,
    NEAR_DUP_THRESHOLD,
    _cos_sql,
    _hier_cells,
    _hier_ctes,
    _ivf_index,
    _ivf_oracle,
)
from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
    DEFAULT_PREFIX_LEN,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    exact_dedup,
    incremental_minhash_matches,
    md5_half_decode_sql,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_gram_sets,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

NEAR_DUP_TAIL = " zz yy xx qq pp"

AUG_SQL = f"""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang, source, n_chars
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || '{NEAR_DUP_TAIL}', lang, source, n_chars + 15
    FROM documents WHERE doc_id % 7 = 0
"""


def augmented_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 15).alias("n_chars"),
    )
    return docs.unionByName(exact).unionByName(near)


@query(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({AUG_SQL})
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS rep_doc_id,
           COUNT(*) AS n_copies
    FROM aug GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy, min-id representative."""
    return exact_dedup(augmented_documents(spark, sf_dir))


# Mirrors operators/dedup.py exactly: one md5 per shingle, positional
# decode of the two 32-bit digest halves (strpos is DuckDB's instr),
# then the same literal universal-hash coefficients mod the same prime.
_D1 = md5_half_decode_sql("m", 1, instr_fn="strpos")
_D2 = md5_half_decode_sql("m", 9, instr_fn="strpos")
_SIG_MINS = ",\n               ".join(
    f"MIN(({a} * v1 + {b} * v2 + {c}) % {MINHASH_PRIME}) AS h{i}"
    for i, (a, b, c) in enumerate(MINHASH_COEFFS)
)
_SIG_LIST = "list_value(" + ", ".join(f"h{i}" for i in range(12)) + ")"

_MINHASH_CTES = f"""aug AS ({AUG_SQL}),
    tok AS (
        SELECT doc_id AS doc, string_split(lower(text), ' ') AS words FROM aug
    ),
    sh AS (
        SELECT doc,
               list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                              i -> array_to_string(words[i:i+2], ' ')) AS shingles
        FROM tok
    ),
    shex AS (
        SELECT doc, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
    ),
    hm AS (
        SELECT doc, md5(s) AS m FROM shex
    ),
    hv AS (
        SELECT doc, {_D1} AS v1, {_D2} AS v2 FROM hm
    ),
    sigagg AS (
        SELECT doc, {_SIG_MINS}
        FROM hv GROUP BY doc
    ),
    sig AS (
        SELECT doc, {_SIG_LIST} AS sig FROM sigagg
    ),
    banded AS (
        SELECT doc, sig,
               unnest(list_transform(range(0, 4),
                   b -> CAST(b AS VARCHAR) || '|'
                        || array_to_string(list_transform(sig[b*3+1:b*3+3],
                                          x -> CAST(x AS VARCHAR)), '|'))) AS band
        FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.doc < b.doc
    ),
    est AS (
        SELECT p.doc_a, p.doc_b,
               round(CAST(len(list_filter(range(1, 13),
                                          i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                     / 12, 6) AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc = p.doc_a
        JOIN sig sb ON sb.doc = p.doc_b
    )"""


from incubyte_vaccination_data_pipeline_spark.shared_cache import shared


def shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs persisted once per (Spark app, sf_dir):
    ``dedup_minhash_lsh`` and ``dedup_clusters`` both consume the same
    shingle -> signature -> band pipeline, and a catalog/bench/driver
    run executes them back-to-back — without sharing, the clusters
    query re-runs the whole heavy pipeline just to materialize its
    edge list. Pairs are tiny relative to the corpus, so
    MEMORY_AND_DISK persist is safe at any scale. (The un-persisted
    operator plan shape stays guarded in tests/test_plans.py via
    ``minhash_candidate_pairs`` directly — a persisted frame's plan
    renders as InMemoryRelation.)"""
    return shared(
        spark,
        sf_dir,
        "minhash_pairs",
        lambda: minhash_candidate_pairs(
            augmented_documents(spark, sf_dir),
            n_hashes=12,
            bands=4,
            shingle_k=3,
            min_est_jaccard=0.5,
        ).persist(),
    )


def shared_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels built once per (Spark app, sf_dir):
    three catalog queries (``dedup_clusters``, ``dedup_keep_best``,
    ``dedup_cleaned_corpus``) consume the same min-label propagation
    over the shared candidate pairs, and the propagation loop is EAGER
    (one materialization job per round) — without sharing, each query
    re-runs the whole loop (~0.85-1.4s each at sf0.1, ROUND_NOTES
    §8.9). ``duplicate_clusters`` localCheckpoints its label frame
    every round, so the returned frame is already a materialized
    in-memory RDD with a Project-over-LogicalRDD plan — caching the
    SAME frame object leaves every downstream analyzed plan (and so
    every driver fingerprint) byte-identical to the uncached build."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
    )

    return shared(
        spark,
        sf_dir,
        "duplicate_clusters",
        lambda: duplicate_clusters(shared_minhash_pairs(spark, sf_dir)),
    )


def _shared_ngram_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document char-3-gram sets with (lang, 20-char length-bucket)
    block keys, built once per (app, corpus): the explode ->
    collect_set aggregate is ``dedup_ngram_jaccard``'s dominant
    per-call cost and depends only on the corpus (the Jaccard
    threshold and the blocked join run per call). Same checkpointed
    LogicalRDD shape as the per-call build."""
    # block_cols pinned EXPLICITLY (with len_bucket precomputed exactly
    # as the operator default used to): the operator's defaulted
    # blocking is now prefix-refined for scale (operators/dedup.py
    # _resolve_block_cols), while this catalog query keeps the original
    # 2-column blocking as its driver-verified oracle contract — the
    # analyzed plan (and so the query fingerprint) is unchanged.
    return shared(
        spark,
        sf_dir,
        "ngram_grams",
        lambda: ngram_gram_sets(
            augmented_documents(spark, sf_dir).withColumn(
                "len_bucket", (F.col("n_chars") / 20).cast("int")
            ),
            block_cols=["lang", "len_bucket"],
            n=3,
            len_bucket_width=20,
        ),
    )


def _shared_simhash32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints built once per (Spark app, sf_dir).
    The frame must materialize before the band self-join either way
    (the pair generator references it on both sides and Spark
    self-joins duplicate the subtree: without it the corpus's 3-scan
    augmentation union is scanned 6x and the explode+vote aggregate
    runs twice); fingerprints are ~12 bytes/doc, negligible at any
    corpus size. Keying the localCheckpoint per corpus (instead of
    re-checkpointing per call) is the round-8-measured 1.24s -> 0.6s
    warm win at sf0.1 (ROUND_NOTES §8.9) with the identical
    LogicalRDD plan shape — the banding/join plan downstream stays
    visible to the plan guard and the driver fingerprint is
    unchanged."""
    return shared(
        spark,
        sf_dir,
        "simhash32",
        lambda: durable_checkpoint(
            simhash_fingerprints(augmented_documents(spark, sf_dir), bits=32)
        ),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands x 3 rows) near-dup candidate pairs."""
    return shared_minhash_pairs(spark, sf_dir)


_HEX = "0123456789abcdef"
_TOKVAL_SQL = (
    f"(strpos('{_HEX}', substr(md5(t), 1, 1)) - 1) * 4096"
    f" + (strpos('{_HEX}', substr(md5(t), 2, 1)) - 1) * 256"
    f" + (strpos('{_HEX}', substr(md5(t), 3, 1)) - 1) * 16"
    f" + (strpos('{_HEX}', substr(md5(t), 4, 1)) - 1)"
)


_SIMHASH_CTES = f"""aug AS ({AUG_SQL}),
    stok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS words FROM aug
    ),
    svotes AS (
        SELECT doc_id,
               list_transform(range(0, 16),
                   j -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(words,
                               t -> CASE WHEN (({_TOKVAL_SQL}) >> j) % 2 = 1
                                    THEN CAST(1 AS BIGINT)
                                    ELSE CAST(-1 AS BIGINT) END)),
                       (a, b) -> a + b)) AS v
        FROM stok
    ),
    fp AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(v, x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT)
                                              ELSE CAST(0 AS BIGINT) END)),
                   (a, b) -> a * 2 + b) AS simhash
        FROM svotes
    )"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_id, simhash FROM fp
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (identical texts collide; near-dups
    land within small Hamming distance). Width pinned explicitly: the
    operator's default is corpus-derived (derived_simhash_bits), this
    query's oracle contract is the fixed small-SF width."""
    return simhash_fingerprints(augmented_documents(spark, sf_dir), bits=16)


# 32-bit SimHash mirror for the Hamming-pair query (the 16-bit
# fingerprint caps band blocking at 16 buckets/band — quadratic
# candidate growth with corpus size; 32-bit/8-bit bands gives 256).
# Same one-md5-per-token decode as Spark (md5_half_decode_sql reused
# with strpos) and an aggregation-form vote sum — bit-identical.
def _simhash_decode_sql(digits: int) -> str:
    """DuckDB decode of the first ``digits`` md5 hex chars into one
    BIGINT — the ``digits``-parametric generalization of
    ``md5_half_decode_sql`` (byte-identical to it at digits=8)."""
    terms = [
        f"(strpos('0123456789abcdef', substring(m, {1 + k}, 1)) - 1)"
        f" * cast({16 ** (digits - 1 - k)} as bigint)"
        for k in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


def _simhash_votes_sql(bits: int) -> str:
    return ",\n               ".join(
        f"SUM(CASE WHEN (v >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )


def _simhash_pack_sql(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << (bits - 1 - j)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )


def simhash_oracle_ctes(bits: int, suffix: str) -> str:
    """The full DuckDB fingerprint pipeline (tokenize -> md5 -> decode
    -> per-bit votes -> pack) at any width, CTE names suffixed so two
    widths can coexist in one statement namespace. ONE generator
    serves every width (32-bit and 48-bit here) so the
    decode/vote/pack arithmetic can never diverge between them —
    at bits=32, suffix="32" the output is byte-identical to the
    pre-round-10 hand-written _SIMHASH32_CTES (oracle text feeds the
    driver fingerprint, so this refactor is certified no-op by
    tests/test_fingerprints.py)."""
    return f"""aug AS ({AUG_SQL}),
    stok{suffix} AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM aug
    ),
    shm{suffix} AS (
        SELECT doc_id, md5(t) AS m FROM stok{suffix}
    ),
    sv{suffix} AS (
        SELECT doc_id, {_simhash_decode_sql(bits // 4)} AS v FROM shm{suffix}
    ),
    svot{suffix} AS (
        SELECT doc_id, {_simhash_votes_sql(bits)}
        FROM sv{suffix} GROUP BY doc_id
    ),
    fp{suffix} AS (
        SELECT doc_id, {_simhash_pack_sql(bits)} AS simhash FROM svot{suffix}
    )"""


_SIMHASH32_CTES = simhash_oracle_ctes(32, "32")


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {_SIMHASH32_CTES},
    sbanded AS (
        SELECT doc_id, simhash,
               unnest(list_transform(range(0, 4),
                   b -> CAST(b AS VARCHAR) || '|'
                        || CAST((simhash >> (b * 8)) & 255 AS VARCHAR))) AS band
        FROM fp32
    ),
    spairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sbanded a JOIN sbanded b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
    FROM spairs p
    JOIN fp32 fa ON fa.doc_id = p.doc_a
    JOIN fp32 fb ON fb.doc_id = p.doc_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
    """,
)
def dedup_simhash_hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 over a 32-bit
    fingerprint, via 4x8-bit-band blocking (pigeonhole: <=3 differing
    bits leave >=1 band intact, so the band equi-join is
    recall-complete) — completes the SimHash family: fingerprints ->
    pairs without all-pairs. 32 bits (vs the fingerprint query's
    oracle-portable 16) keeps band buckets from growing quadratically
    with the corpus; production would use 64-bit with 16-bit bands."""
    return simhash_near_pairs(
        _shared_simhash32(spark, sf_dir), max_hamming=3, bits=32, bands=4
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    grams AS (
        SELECT doc_id AS doc, lang,
               CAST(n_chars // 20 AS INT) AS len_bucket,
               list_distinct(list_transform(
                   range(1, greatest(length(lower(text)) - 2, 0) + 1),
                   i -> substr(lower(text), i, 3))) AS grams
        FROM aug
    ),
    pairs AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, a.grams AS ga, b.grams AS gb
        FROM grams a
        JOIN grams b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
                    AND a.doc < b.doc
        WHERE len(a.grams) > 0 AND len(b.grams) > 0
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
                 / (len(ga) + len(gb)
                    - len(list_intersect(ga, gb))), 6)
               AS jaccard
    FROM pairs
    WHERE round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
                / (len(ga) + len(gb)
                   - len(list_intersect(ga, gb))), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPRECATED — use ``dedup_ngram_jaccard_prefix``: this query pins
    the HISTORICAL (lang, 20-char-length-bucket) blocking as its
    driver-verified oracle contract, and that 2-column block key is
    quadratic in corpus size (the 10x disjoint-content stress reads
    29.5x cold / 84.9x warm, SCALE.md) — metadata blocks grow with the
    corpus, content-prefix blocks don't. The operator DEFAULT
    (``operators/dedup.ngram_jaccard_pairs`` with ``block_cols``
    unset) already uses the scale-safe (lang, len_bucket,
    content-prefix) key; ``dedup_ngram_jaccard_prefix`` is the catalog
    query that certifies it (2.43x cold / 2.24x warm at 10x). Kept,
    contract frozen, for driver-certificate continuity and as the
    measured counter-example of metadata-only blocking.

    Exact char-3-gram Jaccard: the precision-style verify pass
    (MinHash+LSH is the recall-style discovery pass; a near-dup whose
    length crosses a bucket boundary is deliberately out of scope).
    The per-doc gram-set frame builds once per corpus
    (:func:`_shared_ngram_grams`); the blocked verify join runs per call."""
    return ngram_jaccard_pairs(
        augmented_documents(spark, sf_dir),
        block_cols=["lang", "len_bucket"],
        n=3,
        min_jaccard=0.5,
        len_bucket_width=20,
        gram_sets=_shared_ngram_grams(spark, sf_dir),
    )


DEPRECATED["dedup_ngram_jaccard"] = "dedup_ngram_jaccard_prefix"


@query(
    "dedup_clusters",
    oracle=f"""
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
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group assignment: connected components over the
    MinHash+LSH candidate pairs, each document labeled with its
    group's minimum doc id. Spark side is iterative min-label
    propagation (distributed joins, no driver graph); the oracle is
    DuckDB's recursive-CTE transitive closure — same components,
    engine-appropriate algorithms on both sides."""
    return shared_duplicate_clusters(spark, sf_dir)


#: the curation quality expression, shared verbatim with
#: catalog/text.py so the keep-best oracle can never drift from the
#: text_quality_score definition (bare ``text`` column reference —
#: resolves against the joined aug side below)
from incubyte_vaccination_data_pipeline_spark.catalog.text import (  # noqa: E402
    _QUALITY_SQL as _KB_QUALITY_SQL,
)


@query(
    "dedup_keep_best",
    oracle=f"""
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
    clusters AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    scored AS (
        SELECT c.cluster_id, c.doc_id, {_KB_QUALITY_SQL} AS quality
        FROM clusters c JOIN aug a ON a.doc_id = c.doc_id
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM scored
    )
    SELECT cluster_id, doc_id AS kept_doc_id, quality, n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware retention policy over near-duplicate clusters:
    instead of keeping each cluster's arbitrary min-id member
    (``dedup_cleaned_corpus``), keep its HIGHEST-QUALITY document
    (composite quality score; ties break to the lowest doc id) — the
    policy real curation pipelines apply, since duplicates routinely
    differ in boilerplate, truncation, or OCR noise.  One row per
    cluster: (cluster_id, kept_doc_id, quality, n_members).

    Composition: reuses the shared MinHash candidate-pair cache and
    the min-label connected components, then ONE shuffle on
    cluster_id serves both the argmax window and the member count.
    The oracle restates the full chain — banding arithmetic,
    recursive-CTE closure, quality expression, explicit-tie-break
    argmax — independently in DuckDB: an end-to-end value check."""
    from pyspark.sql import Window

    from incubyte_vaccination_data_pipeline_spark.operators.text import quality_score

    clusters = shared_duplicate_clusters(spark, sf_dir)
    docs = augmented_documents(spark, sf_dir).select(
        "doc_id", quality_score("text").alias("quality")
    )
    scored = clusters.join(docs, "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "quality",
            "n_members",
        )
    )


@query(
    "dedup_cleaned_corpus",
    oracle=f"""
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
    clusters AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    exact_rep AS (SELECT MIN(doc_id) AS doc_id FROM aug GROUP BY md5(text))
    SELECT a.doc_id, a.lang, a.source, a.n_chars
    FROM aug a
    JOIN exact_rep er ON a.doc_id = er.doc_id
    LEFT JOIN clusters c ON a.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = a.doc_id
    """,
)
def dedup_cleaned_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: the cleaned corpus after both
    stages — exact duplicates collapse to their min-id representative
    (content-hash groupBy) and near-duplicate cluster members collapse
    to the cluster's min-id representative (MinHash+LSH pairs ->
    connected components). What survives is what a training run would
    actually read.

    Composition reuses the shared candidate-pair cache, so this query
    costs two semi/anti joins on top of work the dedup family already
    did. The oracle restates the full two-stage pipeline independently
    (recursive-CTE closure over the same banding arithmetic), making
    this an end-to-end value check of the composed pipeline, not a
    certificate."""
    docs = augmented_documents(spark, sf_dir)
    reps = exact_dedup(docs).select(F.col("rep_doc_id").alias("doc_id"))
    clusters = shared_duplicate_clusters(spark, sf_dir)
    dupes = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.join(reps, "doc_id", "left_semi")
        .join(dupes, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


# --- incremental batch-vs-corpus dedup -----------------------------------

#: the arriving batch: exact copies of every 10th doc, near copies
#: (5-token tail) of every 7th, and genuinely novel docs (reversed
#: text -> disjoint shingles) from every 13th-plus-1 — id offsets keep
#: the three slices and the corpus disjoint
_BATCH_EXACT_OFF = 1_000_000
_BATCH_NEAR_OFF = 2_000_000
_BATCH_NOVEL_OFF = 3_000_000
INCREMENTAL_MIN_EST = 0.5


def _corpus_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted corpus signature index per (app, corpus) — the
    thing a production ingest pipeline writes ONCE and probes with
    every day's batch; warm calls pay only the batch-side pipeline +
    probe."""

    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        return minhash_signatures(docs).persist()

    return shared(spark, sf_dir, "corpus_sig_index", build)


_DEDUP_INCREMENTAL_ORACLE = f"""
    WITH batch AS (
        SELECT doc_id + {_BATCH_EXACT_OFF} AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + {_BATCH_NEAR_OFF}, text || '{NEAR_DUP_TAIL}'
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + {_BATCH_NOVEL_OFF}, reverse(text)
        FROM documents WHERE doc_id % 13 = 1
    ),
    exact AS (
        SELECT b.doc_id AS batch_doc, MIN(c.doc_id) AS exact_doc
        FROM batch b JOIN documents c ON md5(b.text) = md5(c.text)
        GROUP BY b.doc_id
    ),
    alldocs AS (
        SELECT doc_id AS doc, text FROM documents
        UNION ALL
        SELECT doc_id AS doc, text FROM batch
    ),
    tok AS (
        SELECT doc, string_split(lower(text), ' ') AS words FROM alldocs
    ),
    sh AS (
        SELECT doc,
               list_transform(range(1, greatest(len(words) - 2, 0) + 1),
                              i -> array_to_string(words[i:i+2], ' ')) AS shingles
        FROM tok
    ),
    shex AS (
        SELECT doc, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
    ),
    hm AS (
        SELECT doc, md5(s) AS m FROM shex
    ),
    hv AS (
        SELECT doc, {_D1} AS v1, {_D2} AS v2 FROM hm
    ),
    sigagg AS (
        SELECT doc, {_SIG_MINS}
        FROM hv GROUP BY doc
    ),
    sig AS (
        SELECT doc, {_SIG_LIST} AS sig FROM sigagg
    ),
    banded AS (
        SELECT doc, sig,
               unnest(list_transform(range(0, 4),
                   b -> CAST(b AS VARCHAR) || '|'
                        || array_to_string(list_transform(sig[b*3+1:b*3+3],
                                          x -> CAST(x AS VARCHAR)), '|'))) AS band
        FROM sig
    ),
    cpairs AS (
        SELECT DISTINCT bb.doc AS batch_doc, cb.doc AS corpus_doc
        FROM banded bb JOIN banded cb ON bb.band = cb.band
        WHERE bb.doc >= {_BATCH_EXACT_OFF} AND cb.doc < {_BATCH_EXACT_OFF}
    ),
    nest AS (
        SELECT p.batch_doc, p.corpus_doc,
               round(CAST(len(list_filter(range(1, 13),
                                          i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                     / 12, 6) AS est_jaccard
        FROM cpairs p
        JOIN sig sa ON sa.doc = p.batch_doc
        JOIN sig sb ON sb.doc = p.corpus_doc
    ),
    near AS (
        SELECT batch_doc, corpus_doc AS near_doc, est_jaccard AS near_est FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY batch_doc
                ORDER BY est_jaccard DESC, corpus_doc) AS rn
            FROM nest WHERE est_jaccard >= {INCREMENTAL_MIN_EST})
        WHERE rn = 1
    )
    SELECT b.doc_id AS batch_doc,
           CASE WHEN e.exact_doc IS NOT NULL THEN 'exact'
                WHEN n.near_doc IS NOT NULL THEN 'near'
                ELSE 'novel' END AS match_type,
           COALESCE(e.exact_doc, n.near_doc) AS matched_doc_id,
           CASE WHEN e.exact_doc IS NOT NULL THEN 1.0
                ELSE n.near_est END AS est_jaccard
    FROM batch b
    LEFT JOIN exact e ON b.doc_id = e.batch_doc
    LEFT JOIN near n ON b.doc_id = n.batch_doc
    """


@query("dedup_incremental_batch", _DEDUP_INCREMENTAL_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: match a NEW document batch against the
    EXISTING corpus and emit one verdict row per arriving doc —
    (batch_doc, match_type exact|near|novel, matched_doc_id,
    est_jaccard). The production shape this encodes: the corpus
    signature/band table is built once (persisted at warehouse scale)
    and each day's batch only hashes itself and probes — batch->corpus
    band equi-join ONLY, never batch x batch or corpus x corpus, so
    per-ingest cost is O(|batch| + collisions) regardless of corpus
    size. Exact matches short-circuit via a content-hash equi-join
    (md5 keyed shuffle, map-side combinable min); near matches come
    from ``incremental_minhash_matches`` with the best match chosen by
    (est_jaccard DESC, corpus_doc ASC); everything else is novel.
    Deterministic end to end — the oracle replays the batch
    construction, both match paths, and the precedence rule."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + _BATCH_EXACT_OFF).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + _BATCH_NEAR_OFF).alias("doc_id"),
                F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 1).select(
                (F.col("doc_id") + _BATCH_NOVEL_OFF).alias("doc_id"),
                F.reverse(F.col("text")).alias("text"),
            )
        )
    )
    exact = (
        batch.select(F.col("doc_id").alias("batch_doc"), F.md5("text").alias("h"))
        .join(docs.select(F.md5("text").alias("h"), "doc_id"), "h")
        .groupBy("batch_doc")
        .agg(F.min("doc_id").alias("exact_doc"))
    )
    near_all = incremental_minhash_matches(
        docs,
        batch,
        min_est_jaccard=INCREMENTAL_MIN_EST,
        corpus_sigs=_corpus_sig_index(spark, sf_dir),
    )
    w = Window.partitionBy("batch_doc").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_doc")
    )
    near = (
        near_all.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "batch_doc",
            F.col("corpus_doc").alias("near_doc"),
            F.col("est_jaccard").alias("near_est"),
        )
    )
    return (
        batch.select(F.col("doc_id").alias("batch_doc"))
        .join(exact, "batch_doc", "left")
        .join(near, "batch_doc", "left")
        .select(
            "batch_doc",
            F.when(F.col("exact_doc").isNotNull(), F.lit("exact"))
            .when(F.col("near_doc").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("match_type"),
            F.coalesce("exact_doc", "near_doc").alias("matched_doc_id"),
            F.when(F.col("exact_doc").isNotNull(), F.lit(1.0))
            .otherwise(F.col("near_est"))
            .alias("est_jaccard"),
        )
    )


# --- content-prefix-refined n-gram Jaccard ---------------------------------
#
# Within a fixed (lang, length-bucket) block the population grows
# linearly with the corpus, so the blocked self-join grows
# quadratically (28x cold at 10x data). The 12-char
# ``lower(ltrim(text))`` content-prefix key's cardinality grows WITH
# the corpus, so block populations are bounded by boilerplate-sharing,
# not corpus size (SCALE.md). The oracle is the exact DuckDB
# restatement of the refined blocking: same grams CTE as
# ``dedup_ngram_jaccard`` plus the prefix key in the block-join
# predicate.


def _shared_prefix_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(app, corpus) char-3-gram sets carrying the REFINED
    (lang, len_bucket, text_prefix) block keys — same rows as
    :func:`_shared_ngram_grams`, one extra key column; shared
    separately because the two queries pin different block
    contracts."""
    return shared(
        spark,
        sf_dir,
        "prefix_grams",
        # block_cols defaulted -> (lang, len_bucket, text_prefix)
        lambda: ngram_gram_sets(
            augmented_documents(spark, sf_dir), n=3, len_bucket_width=20
        ),
    )


_NGRAM_PREFIX_ORACLE = f"""
    WITH aug AS ({AUG_SQL}),
    grams AS (
        SELECT doc_id AS doc, lang,
               CAST(n_chars // 20 AS INT) AS len_bucket,
               substr(ltrim(lower(text)), 1, {DEFAULT_PREFIX_LEN}) AS text_prefix,
               list_distinct(list_transform(
                   range(1, greatest(length(lower(text)) - 2, 0) + 1),
                   i -> substr(lower(text), i, 3))) AS grams
        FROM aug
    ),
    pairs AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, a.grams AS ga, b.grams AS gb
        FROM grams a
        JOIN grams b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
                    AND a.text_prefix = b.text_prefix
                    AND a.doc < b.doc
        WHERE len(a.grams) > 0 AND len(b.grams) > 0
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
                 / (len(ga) + len(gb)
                    - len(list_intersect(ga, gb))), 6)
               AS jaccard
    FROM pairs
    WHERE round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
                / (len(ga) + len(gb)
                   - len(list_intersect(ga, gb))), 6) >= 0.5
"""


@query("dedup_ngram_jaccard_prefix", _NGRAM_PREFIX_ORACLE)
def dedup_ngram_jaccard_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard over the operator's defaulted
    (lang, 20-char-length-bucket, 12-char-content-prefix) blocks — the
    corpus-scale-safe verify pass. Same exact per-pair Jaccard as
    ``dedup_ngram_jaccard``; the additional prefix key scopes the
    operator to near-dups whose first ``DEFAULT_PREFIX_LEN`` lowered,
    left-trimmed chars agree (edits inside the prefix belong to the
    MinHash+LSH discovery pass), which is what keeps block populations
    independent of corpus size. Gram sets build once per corpus
    (:func:`_shared_prefix_grams`); the blocked verify join runs per
    call."""
    return ngram_jaccard_pairs(
        augmented_documents(spark, sf_dir),
        n=3,
        min_jaccard=0.5,
        len_bucket_width=20,
        gram_sets=_shared_prefix_grams(spark, sf_dir),
    )


# --- the WIDE SimHash pairs path ------------------------------------------
#
# The 32-bit ``dedup_simhash_hamming`` saturates its 8-bit band buckets
# at scale (30x stress: 184s, ~24M junk pairs) where the
# operator-default derived width did the same corpus in 14.1s
# (SCALE.md). 48-bit fingerprints (the width ``derived_simhash_bits``
# picks for the 10x corpus) with 12-bit bands, same decode/vote/pack
# arithmetic as the 32-bit oracle generated at 12 hex digits.

_WIDE_BITS = 48
# ONE shared generator (catalog/dedup.simhash_oracle_ctes) produces the
# decode/vote/pack SQL for every width — the 32-bit oracle and this one
# can never diverge arithmetically (round-10 review finding)
_SIMHASHW_CTES = simhash_oracle_ctes(_WIDE_BITS, "w")

_WIDE_BAND_W = _WIDE_BITS // 4  # 4 bands of 12 bits
_WIDE_MASK = (1 << _WIDE_BAND_W) - 1

_SIMHASH_WIDE_ORACLE = f"""
    WITH {_SIMHASHW_CTES},
    wbanded AS (
        SELECT doc_id, simhash,
               unnest(list_transform(range(0, 4),
                   b -> CAST(b AS VARCHAR) || '|'
                        || CAST((simhash >> (b * {_WIDE_BAND_W})) & {_WIDE_MASK}
                                AS VARCHAR))) AS band
        FROM fpw
    ),
    wpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM wbanded a JOIN wbanded b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
    FROM wpairs p
    JOIN fpw fa ON fa.doc_id = p.doc_a
    JOIN fpw fb ON fb.doc_id = p.doc_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
"""


def _shared_simhash48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(app, corpus) 48-bit fingerprint frame (both sides of the
    band self-join reference it — same rationale as
    :func:`_shared_simhash32`)."""
    return shared(
        spark,
        sf_dir,
        "simhash48",
        lambda: durable_checkpoint(
            simhash_fingerprints(
                augmented_documents(spark, sf_dir), bits=_WIDE_BITS
            )
        ),
    )


@query("dedup_simhash_hamming_wide", _SIMHASH_WIDE_ORACLE)
def dedup_simhash_hamming_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) over a 48-BIT fingerprint
    with 12-bit bands — the production-width path the 30x stress
    showed is the difference between 14.1s and 184s at 30x data
    (SCALE.md): per-band bucket space 4096 vs the 32-bit query's 256,
    so band buckets keep ~constant population as the corpus grows.
    48 bits is exactly what the operator default
    (``derived_simhash_bits``) picks for the 10x corpus; the width is
    pinned here as this query's oracle contract, with the SAME
    decode/vote/pack arithmetic as the 32-bit oracle generated at 12
    hex digits."""
    return simhash_near_pairs(
        _shared_simhash48(spark, sf_dir),
        max_hamming=3,
        bits=_WIDE_BITS,
        bands=4,
    )


# --- semantic dedup through the shared flat IVF index ---------------------

#: semantic-dedup-through-the-index contract: top-2 multi-assignment
#: over the shared 16-cell IVF quantizer, same near-dup threshold as
#: the label-blocked query (family consistency).
EMB_IVF_ASSIGN_M = 2


def _flat_cells_m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(app, corpus) top-2 multi-assignment over the shared flat
    quantizer (``_ivf_index``), persisted — the dedup twin of
    ``_ivf_assigned_index`` (which is the SEARCH path's m=1 inverted
    file). Round 12: ``dedup_embedding_ivf`` re-ran the O(n x cells)
    literal-expression assignment on BOTH sides of its pair self-join
    on every materialization; precomputing it leaves the same-cell
    pair join as the query's only per-run work (the identical
    ``explode(ivf_probes_expr(..., m))`` rows the operator's
    centroids path would build — semantics and oracle unchanged)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        ivf_probes_expr,
    )

    def build() -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        return (
            emb.select(
                "vec_id",
                "embedding",
                F.explode(
                    ivf_probes_expr(
                        "embedding", _ivf_index(spark, sf_dir), EMB_IVF_ASSIGN_M
                    )
                ).alias("cell"),
            )
            # hash-partition the inverted file by cell — the layout a
            # 100 TB inverted file lives in (same-cell pair self-join
            # co-located, shuffle-free) AND the local fix for the
            # 1-partition parquet lineage that ran the pair join
            # single-threaded (measured 4.7s -> sub-second warm)
            .repartition("cell")
            .persist()
        )

    return shared(spark, sf_dir, "flat_cells_m2", build)


def _emb_ivf_oracle() -> str:
    return _ivf_oracle(
        pair_threshold=NEAR_DUP_THRESHOLD, assign_m=EMB_IVF_ASSIGN_M
    )


@query("dedup_embedding_ivf", _emb_ivf_oracle())
def dedup_embedding_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs THROUGH the shared IVF index
    (``operators/similarity.cosine_near_dup_pairs_ivf``): every vector
    lands in its 2 nearest cells (multi-assignment — the boundary
    mitigation), candidate pairs share a cell, exact cosine >= the
    family threshold. This is the content-derived-block answer to
    ``dedup_embedding_cosine``'s metadata block: candidate volume is
    O(sum of cell sizes squared), ~linear with corpus-tracking cell
    counts, where the label-blocked query needs a trusted label column
    and all-pairs needs O(n^2). Pairs whose members' assigned cells
    are disjoint are missed (the IVF trade; every RETURNED pair is
    exact and the oracle replays the whole quantizer, so the
    certificate is exact). Index AND assignment build once per corpus
    (``_ivf_index`` + the persisted ``_flat_cells_m2`` frame — round
    12: the unshared assignment re-ran on both sides of the pair
    self-join every materialization)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs_ivf(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        cells=_flat_cells_m2(spark, sf_dir),
    )


# --- semantic dedup through the two-level IVF index ------------------------

def _hier_oracle() -> str:
    """Pair (dedup) tail over the shared hierarchy CTEs."""
    return f"""
    WITH {_hier_ctes(HIER_ASSIGN_M)},
    hpairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM fassigned a JOIN fassigned b USING (cell)
        WHERE a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           round({_cos_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
    FROM hpairs p
    JOIN embeddings ea ON ea.vec_id = p.vec_a
    JOIN embeddings eb ON eb.vec_id = p.vec_b
    WHERE round({_cos_sql('ea.embedding', 'eb.embedding')}, 6)
          >= {NEAR_DUP_THRESHOLD}
"""


@query("dedup_embedding_ivf_hier", _hier_oracle())
def dedup_embedding_ivf_hier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs through the TWO-LEVEL (hierarchical)
    IVF quantizer (``operators/similarity.ivf_two_level_assign`` with
    one distributed groupwise Lloyd refinement of the fine seeds, fed
    to ``cosine_near_dup_pairs_ivf(cells=...)``): the assignment shape
    that survives cell counts past literal codegen — O(n*sqrt(cells))
    scoring, no cells x dims expression, no driver collect in the
    refinement. Pinned small for the oracle: 3 coarse x 4 fine cells,
    top-2 multi-assignment. The 100x stress measured the refinement
    worth 2.5x on pair generation (SCALE.md: unrefined fine seeds skew
    and the pair join pays sum(cell^2))."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs_ivf(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        cells=_hier_cells(spark, sf_dir),
    )
