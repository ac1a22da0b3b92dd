"""Text-analysis operators for training-data pipelines: tokenization,
language identification, quality scoring, and document fingerprinting.

All pure Column expressions (JVM-side, codegen'd, zero shuffles) so
they run at scan speed over 100 TB of documents. Heuristics are
deliberately simple and *portable* — every building block has an exact
DuckDB equivalent so the oracle can mirror the arithmetic bit-for-bit
(integer-derived divisions, md5, positional decodes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword profiles for the n-gram/stopword
#: language-id heuristic (order = deterministic tie-break priority)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "que"],
}

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_PREFIX = 64  # rolling hash covers the first N chars


def words(text_col: str) -> Column:
    """Whitespace tokens of the lower-cased text."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_count(text_col: str) -> Column:
    return F.size(words(text_col))


def bpe_token_count(text_col: str) -> Column:
    """Sub-word-ish token count: letter runs + digit runs + punct."""
    return F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0))


def stopword_hits(text_col: str, stopwords: list[str]) -> Column:
    quoted = ", ".join(f"'{w}'" for w in stopwords)
    return F.expr(
        f"size(filter(split(lower(trim({text_col})), '\\\\s+'),"
        f" t -> array_contains(array({quoted}), t)))"
    )


def language_scores(text_col: str) -> dict[str, Column]:
    """Per-language stopword-hit scores."""
    return {lang: stopword_hits(text_col, sw) for lang, sw in LANG_PROFILES.items()}


def language_id(text_col: str) -> Column:
    """Argmax language with deterministic priority-order tie-break;
    'und' (undetermined) when no profile scores a single hit."""
    scores = language_scores(text_col)
    langs = list(LANG_PROFILES)
    expr: Column = F.lit("und")
    # build the CASE chain backwards so earlier langs win ties
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if other == lang:
                continue
            # >= against later langs, > against earlier handled by order
            cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def punct_count(text_col: str) -> Column:
    return F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[.,!?;:]", "")
    )


def quality_score(text_col: str) -> Column:
    """Composite quality score in [0, 1] from length / stopword-ratio /
    punctuation-ratio signals (integer-derived ratios, deterministic)."""
    n_chars = F.length(F.col(text_col)).cast("double")
    n_words = word_count(text_col).cast("double")
    stop_ratio = stopword_hits(text_col, LANG_PROFILES["en"]).cast("double") / n_words
    punct_ratio = punct_count(text_col).cast("double") / n_chars
    length_signal = F.least(n_chars / 400.0, F.lit(1.0))
    avg_word_len = n_chars / n_words
    word_len_signal = F.when(
        (avg_word_len >= 3.0) & (avg_word_len <= 9.0), 1.0
    ).otherwise(0.5)
    score = (
        0.4 * length_signal
        + 0.3 * F.least(stop_ratio * 4.0, F.lit(1.0))
        + 0.2 * word_len_signal
        + 0.1 * (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0)))
    )
    return F.round(score, 6)


def normalized_text(text_col: str) -> Column:
    """Canonical form for fingerprinting: lower, strip non-alnum,
    collapse whitespace."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.regexp_replace(c, r" +", " ")
    return F.trim(c)


def fingerprint_frame(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, content_md5, rolling_hash) per document.

    The rolling hash is the Rabin-Karp polynomial
    ``sum(ascii(c_i) * 31^(L-i)) mod 1e9+7`` over the first 64 chars of
    the normalized text. Rather than a sequential ``aggregate`` fold
    (interpreted, and Catalyst re-evaluates the normalization per
    element), the prefix explodes to one row per character position,
    the per-position term is codegen'd against precomputed ``31^k mod
    p`` literals, and a map-side-combinable groupBy sums them — the
    positional-power form makes the fold order-independent, so it
    distributes."""
    mod = FINGERPRINT_MOD
    pows = [pow(31, k, mod) for k in range(FINGERPRINT_PREFIX)]
    pow_arr = F.array(*[F.lit(p) for p in pows])
    from incubyte_vaccination_data_pipeline_spark.operators.partitioning import (
        fanout_repartition,
    )

    base = fanout_repartition(
        df.select(
            F.col(id_col).alias("doc_id"),
            normalized_text(text_col).alias("nrm"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.md5("nrm").alias("content_md5"),
        F.substring("nrm", 1, FINGERPRINT_PREFIX).alias("pfx"),
    )
    # one guaranteed row per doc (empty prefix -> single zero term)
    terms = base.select(
        "doc_id",
        "content_md5",
        F.explode(F.sequence(F.lit(1), F.greatest(F.length("pfx"), F.lit(1)))).alias("i"),
        "pfx",
    ).select(
        "doc_id",
        "content_md5",
        F.when(
            F.col("i") <= F.length("pfx"),
            F.ascii(F.expr("substring(pfx, i, 1)")).cast("long")
            * F.element_at(pow_arr, (F.length("pfx") - F.col("i") + 1).cast("int")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("term"),
    )
    return terms.groupBy("doc_id", "content_md5").agg(
        (F.sum("term") % mod).alias("rolling_hash")
    )
