"""Deduplication operator family for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Design for 100 TB (the whole point of these shapes):

- **Explode, hash in codegen, partially aggregate.** Shingle/n-gram
  generation is an ``explode`` to one row per (doc, gram); all md5
  hashing then runs on flat string columns inside whole-stage codegen,
  and the per-doc signature/gram-set is rebuilt with a map-side
  combinable ``groupBy``. This deliberately avoids nesting expensive
  expressions inside ``transform``/``aggregate`` lambdas: Spark's
  higher-order functions are interpreted (not codegen'd) and Catalyst
  inlines upstream projections into lambda bodies, so an array-lambda
  formulation re-evaluates the whole upstream pipeline once per array
  element (measured 20x slowdown at sf0.001).
- **The only shuffles are (a) a pre-explode fan-out of the compact
  input keyed by doc (so the 100-1000x explode stage uses every core,
  not the handful of file splits a small parquet input arrives as —
  the per-doc re-aggregation then reuses that layout instead of
  shuffling again) and (b) the LSH band / block self-join**, an
  equi-join on band keys — Catalyst shuffles both sides by band, so
  candidate generation is O(sum of bucket sizes squared), never the
  O(n^2) cross product.
- **Portable hashing, one digest per shingle**: each shingle is
  md5-hashed ONCE; the hex digest's two 32-bit halves are positionally
  decoded to bigints and the ``n_hashes`` MinHash positions come from a
  2-universal family ``(a_i*v1 + b_i*v2 + c_i) mod p`` (p = 2^31-1,
  literal coefficients below). Any uniform hash family is a valid
  MinHash order; md5 + integer arithmetic are bit-identical in every
  engine, so signatures (and thus est-Jaccard) validate exactly
  against the DuckDB oracle with no custom UDFs on either side. This
  replaced round 1's 12 seeded md5-string hashes per shingle
  (18.9s -> the md5 work drops 12x and all min/compare/shuffle
  traffic moves from 32-char strings to bigints).

SimHash bit arithmetic uses explicit hex-digit positional decoding
(``instr('0123456789abcdef', c) - 1``) instead of engine-specific
``conv``/``from_hex`` so the oracle can mirror it exactly.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.plans.checkpoints import (
    durable_checkpoint,
)

from incubyte_vaccination_data_pipeline_spark.operators.partitioning import (
    fanout_repartition,
)

HEX_DIGITS = "0123456789abcdef"


class ClustersNotConverged(RuntimeError):
    """``duplicate_clusters`` exhausted ``max_iters`` with labels still
    propagating — a duplicate chain longer than the propagation radius
    exists and the clustering would silently under-merge."""


# 2-universal MinHash family over the two 32-bit halves of md5(shingle):
# h_i = (A_i*v1 + B_i*v2 + C_i) mod MINHASH_PRIME. Coefficients are
# literals (fixed seed 20260813) so the DuckDB oracle states identical
# arithmetic; A,B < 2^30 and v1,v2 < 2^32 keep every intermediate well
# under 2^63 (no overflow in either engine, ANSI mode included).
MINHASH_PRIME = 2147483647
MINHASH_COEFFS = [
    (1064082031, 199401393, 596987482),
    (573612697, 958392529, 1479347476),
    (486173717, 58225163, 291219900),
    (215489561, 117017239, 1406942087),
    (880590499, 633842771, 924035316),
    (586349399, 1019488621, 402639405),
    (1071644563, 678835137, 1355823818),
    (1056605313, 334462875, 252657889),
    (588912591, 214015921, 1696544697),
    (115448327, 397332019, 1758809000),
    (740016489, 429239621, 527406850),
    (53291263, 951695955, 87966394),
]


def md5_half_decode_sql(md5_col: str, start: int, instr_fn: str = "instr") -> str:
    """SQL expression decoding 8 hex digits of ``md5_col`` starting at
    1-based ``start`` into a bigint via positional lookup — the only
    engine difference is the position function name (Spark ``instr``,
    DuckDB ``strpos``), so the oracle reuses this builder verbatim.
    Power-of-16 literals carry an explicit BIGINT cast: the first term
    is 15 * 16^7 > 2^31, which would overflow 32-bit int arithmetic
    (DuckDB errors; Spark ANSI mode errors too)."""
    terms = [
        f"({instr_fn}('{HEX_DIGITS}', substring({md5_col}, {start + k}, 1)) - 1)"
        f" * cast({16 ** (7 - k)} as bigint)"
        for k in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Array of k-word shingles of the lower-cased, space-split text."""
    return F.expr(
        f"""
        transform(
            sequence(1, greatest(size(split(lower({text_col}), ' ')) - {k - 1}, 0)),
            i -> array_join(slice(split(lower({text_col}), ' '), i, {k}), ' '))
        """
    )


def char_ngrams(text_col: str, n: int = 3) -> Column:
    """Distinct character n-grams of the lower-cased text."""
    return F.expr(
        f"""
        array_distinct(transform(
            sequence(1, greatest(length(lower({text_col})) - {n - 1}, 0)),
            i -> substring(lower({text_col}), i, {n})))
        """
    )


def minhash_signature(shingles_col: str, n_hashes: int = 12) -> Column:
    """MinHash signature (array-expression form, for small in-row
    shingle arrays): per position i, min over shingles of
    ``(A_i*v1 + B_i*v2 + C_i) mod p`` where (v1, v2) are the decoded
    md5 halves. Bit-identical to the distributed
    ``minhash_signatures`` form, which is the path real queries take
    (array lambdas are interpreted, not codegen'd). NULL-free only
    when the shingle array is non-empty — filter first."""
    d1 = md5_half_decode_sql("m", 1)
    d2 = md5_half_decode_sql("m", 9)
    halves = (
        f"transform(transform({shingles_col}, s -> md5(s)),"
        f" m -> struct(cast({d1} as bigint) as v1, cast({d2} as bigint) as v2))"
    )
    mins = [
        F.expr(
            f"array_min(transform({halves},"
            f" x -> ({a} * x.v1 + {b} * x.v2 + {c}) % {MINHASH_PRIME}))"
        )
        for a, b, c in MINHASH_COEFFS[:n_hashes]
    ]
    return F.array(*mins)


def lsh_band_keys(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """Band keys: each band's signature slice joined into a short
    ``'b|h1|h2|h3'`` string (bigints, ~10 digits each — far cheaper
    than round 1's md5-of-concat). Docs sharing any band key become
    candidate pairs; the key never appears in output, only as the
    equi-join column."""
    return F.expr(
        f"""
        transform(sequence(0, {bands - 1}),
                  b -> concat(cast(b as string), '|',
                              array_join(transform(slice({sig_col},
                                                         b * {rows_per_band} + 1,
                                                         {rows_per_band}),
                                                   x -> cast(x as string)), '|')))
        """
    )


def signature_agreement(sig_a: str, sig_b: str, n_hashes: int) -> Column:
    """Estimated Jaccard: fraction of agreeing signature positions."""
    return F.expr(
        f"""
        cast(size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y),
                         v -> v)) as double) / {n_hashes}
        """
    )


def simhash16(tokens_col: str) -> Column:
    """16-bit SimHash over a token array.

    Each token votes +-1 per bit of the first 4 hex digits of its md5;
    the fingerprint sets bit j iff the vote sum is positive.
    """
    # token -> 16-bit int from 4 hex digits (positional decode)
    tok_val = (
        "(instr('{h}', substring(md5(t), 1, 1)) - 1) * 4096"
        " + (instr('{h}', substring(md5(t), 2, 1)) - 1) * 256"
        " + (instr('{h}', substring(md5(t), 3, 1)) - 1) * 16"
        " + (instr('{h}', substring(md5(t), 4, 1)) - 1)"
    ).format(h=HEX_DIGITS)
    return F.expr(
        f"""
        aggregate(
            transform(sequence(0, 15),
                      j -> aggregate({tokens_col}, 0L,
                                     (acc, t) -> acc + CASE WHEN ({tok_val}) div
                                         CASE j WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                                                WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32
                                                WHEN 6 THEN 64 WHEN 7 THEN 128 WHEN 8 THEN 256
                                                WHEN 9 THEN 512 WHEN 10 THEN 1024 WHEN 11 THEN 2048
                                                WHEN 12 THEN 4096 WHEN 13 THEN 8192
                                                WHEN 14 THEN 16384 ELSE 32768 END % 2 = 1
                                         THEN 1L ELSE -1L END)),
            0L,
            (acc, v) -> acc * 2L + CASE WHEN v > 0 THEN 1L ELSE 0L END)
        """
    )


def derived_simhash_bits(
    n_docs: int,
    bands: int = 4,
    target_bucket_docs: int = 16,
    min_bits: int = 16,
    max_bits: int = 60,
) -> int:
    """The corpus-tracking SimHash width: the narrowest fingerprint
    whose PER-BAND bucket space ``2^(bits/bands)`` holds at least
    ``n_docs / target_bucket_docs`` buckets, i.e.
    ``bits = bands * ceil(log2(n_docs / target_bucket_docs))``,
    rounded up to a multiple of 4 (hex-digit decode granularity) and
    clamped to ``[min_bits, max_bits]`` (the hex decode caps at 60;
    past ~2^14 buckets/band a production system moves to 64-bit
    fingerprints with bigint bit ops).

    Rationale: banded Hamming blocking generates candidates inside
    band buckets, so expected bucket population is
    ``n_docs / 2^(bits/bands)`` — a FIXED width saturates as the
    corpus grows (round-9 stress: the 32-bit/8-bit-band config
    produced 2.65M junk pairs at 10x where the tracked width produced
    55.7k, and was slower). Holding population at
    ``target_bucket_docs`` makes within-bucket pair work ~linear in
    corpus size. The result is always a multiple of ``bands`` times a
    whole bits-per-band and a multiple of 4, so both the hex decode
    and the band slicing stay exact."""
    import math

    step = bands * 4 // math.gcd(bands, 4)  # lcm(bands, 4)
    if step > max_bits:
        # no width can satisfy both granularities within the hex
        # decode ceiling (e.g. bands=17 -> lcm 68 > 60): an impossible
        # configuration must fail loudly, not return a 0-bit width
        # whose empty band mask degenerates the join to all-pairs
        raise ValueError(
            f"bands={bands}: no width that is a multiple of both 4 and "
            f"bands fits the {max_bits}-bit hex decode"
        )
    need = max(1, math.ceil(math.log2(max(n_docs, 1) / target_bucket_docs)))
    bits = bands * need
    while bits % 4:
        bits += bands
    lo = min_bits
    while lo % bands or lo % 4:
        lo += 1
    hi = max_bits - (max_bits % step)
    return int(min(hi, max(lo, bits)))


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = None,
) -> DataFrame:
    """(doc_id, simhash) ``bits``-bit SimHash per document, distributed.

    ``bits=None`` (the default) derives the width from the corpus size
    via :func:`derived_simhash_bits` — one ``count()`` aggregate, paid
    once per fingerprint build. Pass an explicit width to pin a
    configuration: the catalog pins 16 (``dedup_simhash``) and 32
    (``dedup_simhash_hamming``) as its small-SF oracle-portable
    contracts, and the 10x stress harness measures fixed-vs-tracked
    widths side by side (scripts/stress_batch_10x.py).

    Tokens explode to rows and are FIRST reduced to (doc, distinct
    token, count) — on natural-language corpora tokens repeat within a
    document (2.3x on the testdata), and the per-occurrence vote sum
    equals the per-distinct-token sum weighted by count (vote_j =
    sum(count * sign_j), exact integer arithmetic), so the md5 decode
    and the ``bits`` vote expressions run once per distinct token
    instead of once per occurrence. Both aggregates run exchange-free:
    the upstream fanout repartition hash-partitions on ``doc_id``,
    which satisfies the clustering of (doc_id, t) and of doc_id alike.
    Each token's md5 is decoded ONCE into a ``bits``-bit value (the
    array-lambda form recomputed md5 per bit — 16x), the per-bit +-1
    votes are codegen'd columns, and a map-side combinable groupBy
    sums votes per doc before packing the fingerprint. At ``bits=16``
    the arithmetic is bit-identical to ``simhash16``; wider
    fingerprints (32 here, 64+ in production) are what make
    Hamming-band blocking scale — band-bucket count is 2^(bits/bands),
    so a 16-bit fingerprint caps at 16 buckets/band (quadratic bucket
    growth with corpus size) while 32-bit with 8-bit bands gives 256
    and a 64-bit production config 65k."""
    if bits is None:
        bits = derived_simhash_bits(df.count())
    if bits % 4 or not 4 <= bits <= 60:
        raise ValueError("bits must be a multiple of 4 in [4, 60] (hex decode)")
    digits = bits // 4
    toks = fanout_repartition(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        "doc_id",
    ).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("__t")), " ")).alias("t"),
    )
    counted = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    hashed = counted.select("doc_id", F.md5("t").alias("m"), "c")
    vals = hashed.select("doc_id", _simhash_decode_col(digits), "c")
    return (
        vals.groupBy("doc_id").agg(*_simhash_vote_cols(bits))
        .select("doc_id", _simhash_pack_col(bits))
    )


@lru_cache(maxsize=None)
def _simhash_decode_col(digits: int) -> Column:
    """``F.expr`` round-trips each string through the JVM SQL parser;
    these columns are pure functions of the bit width, so parse once
    per width per process (the big decode/vote/pack expression trees
    dominated *driver-side plan-build* time — ~1.4 s per
    ``simhash_fingerprints`` call at bits=32 — while executors ran the
    query in 0.7 s)."""
    dec = " + ".join(
        f"(instr('{HEX_DIGITS}', substring(m, {p + 1}, 1)) - 1)"
        f" * cast({16 ** (digits - 1 - p)} as bigint)"
        for p in range(digits)
    )
    return F.expr(f"cast({dec} as bigint)").alias("v")


@lru_cache(maxsize=None)
def _simhash_vote_cols(bits: int) -> tuple[Column, ...]:
    return tuple(
        F.sum(
            F.when(F.expr(f"(shiftright(v, {j}) & 1) = 1"), F.col("c")).otherwise(
                -F.col("c")
            )
        ).alias(f"_s{j}")
        for j in range(bits)
    )


@lru_cache(maxsize=None)
def _simhash_pack_col(bits: int) -> Column:
    packed = sum(
        (
            F.when(F.col(f"_s{j}") > 0, F.lit(1 << (bits - 1 - j))).otherwise(F.lit(0))
            for j in range(bits)
        ),
        F.lit(0),
    )
    return packed.cast("bigint").alias("simhash")


def simhash_near_pairs(
    fps: DataFrame,
    max_hamming: int = 2,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found without
    an all-pairs comparison: split the ``bits``-bit fingerprint into
    ``bands`` equal slices — any pair within Hamming distance
    ``bands - 1`` shares at least one intact slice (pigeonhole), so a
    band-key equi-join generates a complete candidate set, then the
    exact ``bit_count(xor)`` filter keeps true near-dups. Requires
    ``max_hamming < bands`` for full recall (asserted). Returns
    (doc_a, doc_b, hamming)."""
    if max_hamming >= bands:
        raise ValueError("full recall needs max_hamming < bands")
    banded = fps.select(
        F.col(id_col).alias("doc"),
        F.col(sim_col).alias("fp"),
        _band_explode_col(bits, bands, sim_col),
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("fp").alias("fp_a"), "band")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("fp").alias("fp_b"), "band")
    return (
        a.join(b, on="band")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(fp_a ^ fp_b)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


@lru_cache(maxsize=None)
def _band_explode_col(bits: int, bands: int, sim_col: str) -> Column:
    """Parse-once band-slice explode (see ``_simhash_decode_col``)."""
    width = bits // bands
    mask = (1 << width) - 1
    return F.explode(
        F.expr(
            f"""
            transform(sequence(0, {bands - 1}),
                      b -> concat(cast(b as string), '|',
                                  cast(shiftright({sim_col}, b * {width}) & {mask}
                                       as string)))
            """
        )
    ).alias("band")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one representative (min
    id) per distinct text, with the duplicate count. Map-side partial
    aggregation makes this one cheap shuffle at any scale."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, sig) bigint MinHash signatures via explode + groupBy.

    One row per (doc, shingle); each shingle is md5'd ONCE, its two
    32-bit halves decoded to (v1, v2) in codegen, and the ``n_hashes``
    universal-hash positions are flat bigint columns re-aggregated per
    doc with map-side-combined MINs. Docs with fewer than
    ``shingle_k`` words yield no shingles and are dropped (same as the
    array formulation's size>0 filter).
    """
    if n_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"n_hashes <= {len(MINHASH_COEFFS)} (fixed coefficient set)")
    words = fanout_repartition(
        df.select(
            F.col(id_col).alias("doc"),
            F.split(F.lower(F.col(text_col)), " ").alias("words"),
        ).filter(F.size("words") >= shingle_k),
        "doc",
    )
    shingles = words.select(
        "doc",
        F.expr(
            f"""
            explode(transform(sequence(1, size(words) - {shingle_k - 1}),
                              i -> array_join(slice(words, i, {shingle_k}), ' ')))
            """
        ).alias("shingle"),
    )
    halves = shingles.select("doc", F.md5("shingle").alias("m")).select(
        "doc",
        F.expr(f"cast({md5_half_decode_sql('m', 1)} as bigint)").alias("v1"),
        F.expr(f"cast({md5_half_decode_sql('m', 9)} as bigint)").alias("v2"),
    )
    mins = [
        F.min(
            (F.lit(a) * F.col("v1") + F.lit(b) * F.col("v2") + F.lit(c))
            % F.lit(MINHASH_PRIME)
        ).alias(f"_h{h}")
        for h, (a, b, c) in enumerate(MINHASH_COEFFS[:n_hashes])
    ]
    return (
        halves.groupBy("doc")
        .agg(*mins)
        .select("doc", F.array(*[f"_h{h}" for h in range(n_hashes)]).alias("sig"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    explode shingles -> one md5 + 12 universal-hash bigint columns ->
    groupBy-min signature -> checkpoint -> band keys -> explode ->
    band self-join -> distinct pairs -> estimated Jaccard filter.
    Returns (doc_a, doc_b, est_jaccard).

    The signature frame is materialized before the self-join: Spark
    duplicates self-join subtrees (no exchange reuse fires across the
    two banded sides), so without it the corpus is scanned and the
    shingle->signature aggregate computed twice per execution. The
    signature frame is ~100 B/doc — orders of magnitude below corpus
    bytes — so one materialization beats a second full corpus pass at
    the design point.

    The pair dedup carries both signatures through its shuffle: at 12
    bigints (96 B) per side that is cheaper than deduping bare ids and
    re-attaching signatures via two extra join shuffles (round 1's
    32-char md5 signature arrays were 8x wider, which is what made the
    carry expensive).
    """
    rows_per_band = n_hashes // bands
    sigs = durable_checkpoint(
        minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    )
    # sig is an aggregation output attribute here, so the band-key
    # lambda slices a materialized 12-element array — cheap per band.
    banded = sigs.select(
        "doc", "sig", F.explode(lsh_band_keys("sig", bands, rows_per_band)).alias("band")
    )
    a = banded.select(
        F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band"
    )
    b = banded.select(
        F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band"
    )
    pairs = (
        a.join(b, on="band")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = signature_agreement("sig_a", "sig_b", n_hashes)
    return (
        pairs.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def incremental_minhash_matches(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate matches of a NEW ingest batch against an EXISTING
    corpus: (batch_doc, corpus_doc, est_jaccard) — the daily-ingest
    dedup shape, where the corpus index is built (or, in production,
    already persisted as a table banded by key) and each arriving
    batch only hashes ITSELF and probes.

    The structural difference from :func:`minhash_candidate_pairs` is
    the join direction: batch bands equi-join corpus bands ONLY —
    never batch x batch and never corpus x corpus — so per-ingest cost
    is O(|batch| + collisions), independent of corpus-squared. At
    100 TB the corpus side of this join is a bucketed table written
    once (the signature/band computation amortizes over every future
    batch); the per-batch work is the batch's own shingle -> signature
    pipeline plus one keyed shuffle.  Pass ``corpus_sigs`` (a prebuilt
    ``minhash_signatures(corpus, ...)`` frame, typically persisted) to
    realize that amortization; without it the corpus side is derived
    inline.

    Candidate dedup carries both signatures through the shuffle (the
    same 96 B/side trade as the self-join variant); pairs below
    ``min_est_jaccard`` are dropped after the signature-agreement
    estimate."""
    rows_per_band = n_hashes // bands
    csig = (
        corpus_sigs
        if corpus_sigs is not None
        else minhash_signatures(corpus, text_col, id_col, n_hashes, shingle_k)
    )
    bsig = minhash_signatures(batch, text_col, id_col, n_hashes, shingle_k)
    cband = csig.select(
        F.col("doc").alias("corpus_doc"),
        F.col("sig").alias("sig_c"),
        F.explode(lsh_band_keys("sig", bands, rows_per_band)).alias("band"),
    )
    bband = bsig.select(
        F.col("doc").alias("batch_doc"),
        F.col("sig").alias("sig_b"),
        F.explode(lsh_band_keys("sig", bands, rows_per_band)).alias("band"),
    )
    pairs = (
        bband.join(cband, on="band")
        .select("batch_doc", "corpus_doc", "sig_b", "sig_c")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    est = signature_agreement("sig_b", "sig_c", n_hashes)
    return pairs.select(
        "batch_doc", "corpus_doc", F.round(est, 6).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= min_est_jaccard)


#: chars of the lowered, left-trimmed text prefix used as the
#: content-refined third block key when ``block_cols`` is defaulted
DEFAULT_PREFIX_LEN = 12


def _resolve_block_cols(
    df: DataFrame,
    block_cols: list[str] | None,
    len_bucket_width: int,
    text_col: str = "text",
) -> tuple[DataFrame, list[str], bool]:
    """Returns (df, block_cols, defaulted). ``defaulted`` distinguishes
    "caller omitted block_cols" (we synthesize the block columns) from
    "caller explicitly passed a list" (their own columns are used
    verbatim) — comparing against the default VALUE would silently
    rewrite an explicit list (ADVICE r9).

    The DEFAULT block key is (lang, len_bucket, text_prefix): language
    + ``len_bucket_width``-char length bucket + the first
    ``DEFAULT_PREFIX_LEN`` chars of ``lower(ltrim(text))``. The
    content prefix is what keeps the verify join sub-quadratic at
    scale: within a fixed (lang, length-bucket) block the population
    grows linearly with the corpus and the pair join quadratically
    (round-9 stress measured 28x cold at 10x data); the prefix key's
    cardinality grows WITH the corpus, so block sizes stay bounded by
    boilerplate-sharing rather than corpus size. Semantics trade-off,
    documented exactly like the length bucket: near-dups whose edits
    touch the first ``DEFAULT_PREFIX_LEN`` chars land in different
    blocks and are out of scope for this precision/verify operator —
    recall-oriented discovery (any-position edits) belongs to
    MinHash+LSH. ``ltrim`` + ``lower`` absorb the most common benign
    prefix perturbations (leading whitespace, case). Callers wanting
    the historical 2-column blocking pass
    ``block_cols=["lang", "len_bucket"]`` with ``len_bucket``
    precomputed (the catalog's ``dedup_ngram_jaccard`` pins this for
    oracle-contract stability; ``dedup_ngram_jaccard_prefix``
    exercises this default)."""
    defaulted = block_cols is None
    if defaulted:
        block_cols = ["lang", "len_bucket", "text_prefix"]
        df = df.withColumn(
            "len_bucket", (F.col("n_chars") / len_bucket_width).cast("int")
        ).withColumn(
            "text_prefix",
            F.substring(F.ltrim(F.lower(F.col(text_col))), 1, DEFAULT_PREFIX_LEN),
        )
    return df, block_cols, defaulted


def ngram_gram_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    n: int = 3,
    len_bucket_width: int = 100,
) -> DataFrame:
    """The per-document distinct character-n-gram sets with their
    block keys — the corpus-level structure :func:`ngram_jaccard_pairs`
    joins on. Split out so a catalog can build it once per corpus
    (ANALYZE-style) and run the blocked verify join per call.

    Explodes to one row per (doc, position), substrings in codegen,
    and rebuilds the distinct gram set with collect_set — avoids the
    interpreted per-element lower(text) re-evaluation of an
    array-lambda formulation. The frame is localCheckpointed because
    both sides of the downstream self-join reference it (Spark
    self-joins duplicate the subtree: without it the source is scanned
    twice and the explode -> collect_set aggregate runs twice)."""
    df, block_cols, _ = _resolve_block_cols(
        df, block_cols, len_bucket_width, text_col=text_col
    )
    lowered = fanout_repartition(
        df.select(
            F.col(id_col).alias("doc"),
            *block_cols,
            F.lower(F.col(text_col)).alias("lt"),
        ).filter(F.length("lt") >= n),
        "doc",
    )
    gram_rows = lowered.select(
        "doc",
        *block_cols,
        F.explode(F.expr(f"sequence(1, length(lt) - {n - 1})")).alias("pos"),
        "lt",
    ).select("doc", *block_cols, F.expr(f"substring(lt, pos, {n})").alias("gram"))
    return durable_checkpoint(
        gram_rows.groupBy("doc", *block_cols).agg(
            F.collect_set("gram").alias("grams")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    n: int = 3,
    min_jaccard: float = 0.3,
    len_bucket_width: int = 100,
    gram_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact character-n-gram Jaccard over blocked candidate pairs.

    Blocking (default: language + length bucket + content prefix,
    see :func:`_resolve_block_cols`) keeps the pair join sub-quadratic
    at corpus scale; the set intersection runs per-pair as an array
    expression. Narrower ``len_bucket_width`` cuts candidate pairs
    quadratically at the cost of missing near-dups whose lengths
    straddle a bucket boundary, and the default content-prefix key
    additionally scopes out near-dups edited within their first
    ``DEFAULT_PREFIX_LEN`` chars (recall-oriented discovery belongs to
    MinHash+LSH; this is the precision/verify-style operator).
    ``gram_sets`` short-circuits the gram build with a precomputed
    :func:`ngram_gram_sets` frame (per-corpus cache path).
    Returns (doc_a, doc_b, jaccard)."""
    _, block_cols, defaulted = _resolve_block_cols(
        df, block_cols, len_bucket_width, text_col=text_col
    )
    grams = (
        gram_sets
        if gram_sets is not None
        else ngram_gram_sets(
            df,
            text_col=text_col,
            id_col=id_col,
            block_cols=None if defaulted else block_cols,
            n=n,
            len_bucket_width=len_bucket_width,
        )
    )
    a = grams.select(
        *block_cols, F.col("doc").alias("doc_a"), F.col("grams").alias("ga")
    )
    b = grams.select(
        *block_cols, F.col("doc").alias("doc_b"), F.col("grams").alias("gb")
    )
    # size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs whose set sizes are too far apart can never clear the
    # threshold — an O(1) test that skips the O(|A|+|B|) intersection
    na, nb = F.size("ga"), F.size("gb")
    size_ok = F.least(na, nb) >= F.lit(min_jaccard) * F.greatest(na, nb)
    # Evaluate the O(|ga|+|gb|) hash-set intersection exactly ONCE per
    # pair: alias it in its own projection (CollapseProject keeps a
    # non-cheap multi-referenced alias materialized), then gate the
    # threshold filter behind a non-deterministic fence so
    # PushDownPredicates cannot substitute the alias back into the
    # predicate (which would re-run the intersection per comparison —
    # measured 1.7x on the whole query at sf0.1).
    p1 = (
        a.join(b, on=block_cols)
        .filter((F.col("doc_a") < F.col("doc_b")) & size_ok)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ga", "gb")).alias("c"),
            (na + nb).alias("s"),
        )
    )
    jac = F.round(F.col("c").cast("double") / (F.col("s") - F.col("c")), 6)
    return (
        p1.select(
            "doc_a", "doc_b", jac.alias("jaccard"), F.rand(seed=0).alias("__fence")
        )
        .filter((F.col("jaccard") >= min_jaccard) | (F.col("__fence") < -1))
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 8,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs:
    assign every document in a duplicate group the group's minimum
    doc id (its canonical representative).

    Iterative min-label propagation, fully distributed: each round is
    one equi-join (edges against current labels) + one min-aggregate
    — no driver-side graph, no collect. ``max_iters`` bounds the
    propagation radius; components whose diameter exceeds it would
    keep split labels, so convergence is CERTIFIED by a zero-change
    round: the loop runs up to ``max_iters`` propagation rounds plus
    one confirming round (a component of diameter exactly
    ``max_iters`` converges on its last round with nothing left to
    propagate — the extra round proves it instead of spuriously
    raising). If the confirming round still moves labels, RAISE
    ``ClustersNotConverged`` instead of silently under-merging
    (round-1 review finding). Near-dup clusters are planted
    pairs/triples here (diameter <= 2); raise ``max_iters`` for
    corpora with long duplicate chains. The loop exits early once a
    round changes no label.

    Per-round cost is exactly ONE Spark job: the changed-label count
    rides the materialization job as an ``Observation`` metric (the
    pre-aggregation frame carries each node's previous label, so
    ``sum(label < prev)`` is observable on the result), replacing
    round 1's separate join + limit(1) + count job per iteration.

    Lineage discipline: without truncation, round i+1's plan embeds
    round i's plan twice (the union branch and the join branch), so
    the candidate-pair pipeline would be re-optimized and re-executed
    ~2^iters times. Edges are materialized once up front and labels
    are ``localCheckpoint``-ed every round, keeping each iteration's
    plan two shuffles wide regardless of iteration count. (On a
    multi-node cluster, swap for reliable ``checkpoint`` with a
    checkpoint dir — same semantics, executor-loss-safe.)

    Replaces the reference's absent grouping step — its window dedup
    (view_generator.py:42-45) keys on exact CUST_I equality only.
    """
    from pyspark.sql import Observation

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # edges materialize at FULL conf width — this executes the whole
    # upstream candidate-pair pipeline (the heavy stage)
    edges = durable_checkpoint(
        fwd.unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
    )
    # The propagation loop operates on PAIRS-scale data (orders of
    # magnitude below corpus scale), but its shuffles would otherwise
    # run at the session's corpus-scale width — mostly task-scheduling
    # overhead (measured 6.6s -> 4.2s at sf0.1 by narrowing). Derive
    # the loop width from the materialized edge count (a driver-side
    # scalar of checkpointed data, not a data collect): one partition
    # per ~20k edges, capped at the session width so a 100 TB run with
    # billions of candidate edges keeps full parallelism. The width is
    # applied with explicit keyed `repartition(loop_width, ...)` on
    # the loop frames — NOT by mutating the session-global
    # spark.sql.shuffle.partitions, which would silently narrow any
    # concurrent query on the same session (round-2 review finding).
    # localCheckpoint preserves the hash partitioning, so each round's
    # edges-labels equi-join lines up on pre-partitioned sides and the
    # only new exchange per round is the keyed repartition before the
    # min-aggregate.
    spark = pairs.sparkSession
    n_edges = edges.count()
    sess_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_width = max(1, min(sess_width, n_edges // 20000 + 1))
    edges = durable_checkpoint(edges.repartition(loop_width, "dst"))
    labels = durable_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(loop_width, "node")
    )
    changed = None
    for _ in range(max_iters + 1):  # +1: the convergence-confirming round
        neighbor = edges.join(
            labels, edges.dst == labels.node
        ).select(
            F.col("src").alias("node"),
            "label",
            F.lit(None).cast(labels.schema["label"].dataType).alias("prev"),
        )
        mine = labels.select("node", "label", F.col("label").alias("prev"))
        obs = Observation()
        new_labels = (
            mine.unionByName(neighbor)
            .repartition(loop_width, "node")
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("prev").alias("prev"))
            .observe(
                obs,
                F.sum((F.col("label") < F.col("prev")).cast("long")).alias(
                    "changed"
                ),
            )
            .select("node", "label")
        )
        new_labels = durable_checkpoint(new_labels)
        labels = new_labels
        changed = obs.get["changed"] or 0
        if changed == 0:
            break
    if changed:
        raise ClustersNotConverged(
            f"label propagation still changing after {max_iters} propagation "
            f"rounds plus a confirming round ({changed} labels moved last); "
            f"a duplicate chain longer than max_iters exists — raise max_iters"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )



def _hashed_word_kgrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    with_positions: bool,
) -> DataFrame:
    """Shared front of the substring-dedup family: fanout, word
    k-gram explode, ONE md5 per occurrence, decode to the (v1, v2)
    bigint halves. Returns (doc[, pos], v1, v2) —
    ``substring_dup_stats`` and ``substring_dup_coverage`` must stay
    on the identical hashing/shuffle contract, so they share this."""
    words = fanout_repartition(
        df.select(
            F.col(id_col).alias("doc"),
            F.split(F.lower(F.col(text_col)), " ").alias("words"),
        ).filter(F.size("words") >= k),
        "doc",
    )
    gram_expr = (
        f"transform(sequence(1, size(words) - {k - 1}),"
        f" i -> array_join(slice(words, i, {k}), ' '))"
    )
    if with_positions:
        shingled = words.select(
            "doc", F.posexplode(F.expr(gram_expr)).alias("pos", "shingle")
        )
        keep = ["doc", "pos"]
    else:
        shingled = words.select(
            "doc", F.explode(F.expr(gram_expr)).alias("shingle")
        )
        keep = ["doc"]
    return shingled.select(*keep, F.md5("shingle").alias("m")).select(
        *keep,
        F.expr(f"cast({md5_half_decode_sql('m', 1)} as bigint)").alias("v1"),
        F.expr(f"cast({md5_half_decode_sql('m', 9)} as bigint)").alias("v2"),
    )


def substring_gram_frames(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build-once gram-frame triple behind the substring-dedup pair:
    ``(pos, per_doc_gram, gram_docs)``. :func:`substring_dup_stats`
    and :func:`substring_dup_coverage` each re-ran the k-gram explode
    + md5 AND re-shuffled the exploded frame on the gram key per
    materialization; sharing the triple pays both exactly once per
    corpus (the caller persists each frame — this module stays
    stateless, like the rest of the operator layer).

    The ONE gram-key exchange is the ``fanout_repartition`` by
    ``(v1, v2)`` right after the explode: hash partitioning on
    (v1, v2) is a subset of every downstream grouping/join key, so
    ``per_doc_gram`` (groupBy v1,v2,doc), ``gram_docs`` (groupBy
    v1,v2) and the nd-attach joins all reuse the layout with no
    further exchange — at any corpus size the gram shuffle is paid
    once instead of three times. The per-gram distinct-doc count
    ``nd`` is JOINED ON at build (layout-reusing, paid once), so a
    consuming query's per-run work is a single aggregation over its
    cached frame — ``min_docs`` stays a query-time predicate because
    nd travels as a column.

    * pos (doc, pos, v1, v2, nd): every k-gram occurrence with its
      word position and its gram's distinct-doc count — the coverage
      side's interval-union input.
    * per_doc_gram (v1, v2, doc, occ, nd): occurrence count per
      (gram, doc) — unique on its key, so nd is a plain count of its
      rows per gram.
    * gram_docs (v1, v2, nd): distinct-doc count per gram.

    The caller should persist ``pos`` BEFORE materializing the other
    two so the explode is computed once (the catalog's shared cache
    does; see ``catalog/text_ext._substr_frames``).
    """
    pos_raw = fanout_repartition(
        _hashed_word_kgrams(df, text_col, id_col, k, with_positions=True),
        "v1",
        "v2",
    )
    gram_docs = (
        pos_raw.groupBy("v1", "v2", "doc")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("v1", "v2")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    # pos_raw appears twice in pos's plan (join left + under gram_docs)
    # behind the SAME canonical exchange, so materializing pos runs the
    # explode + gram shuffle once (ReusedExchange); per_doc_gram then
    # derives from pos — off the persisted frame when the caller
    # persists pos first — and nd rides the groupBy (constant per gram)
    pos = pos_raw.join(gram_docs, ["v1", "v2"])
    per_doc_gram = (
        pos.groupBy("v1", "v2", "doc", "nd")
        .agg(F.count(F.lit(1)).alias("occ"))
        .select("v1", "v2", "doc", "occ", "nd")
    )
    return pos, per_doc_gram, gram_docs


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
    flag_frac: float = 0.2,
    frames: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document duplicated-substring statistics — the exact
    cross-document substring-dedup signal (the long-k-gram analysis
    behind "remove verbatim-repeated passages from the training set"):
    every word ``k``-gram OCCURRENCE (positions, not distinct grams)
    is hashed once; a k-gram is DUPLICATED when it occurs in at least
    ``min_docs`` distinct documents; each document reports its total
    k-gram positions, how many of them carry a duplicated k-gram, the
    duplicated fraction, and a ``dup_heavy`` flag at ``flag_frac``.

    Scale notes (the same contract as the rest of this module): the
    k-gram explode runs after :func:`fanout_repartition` so the
    100-1000x expansion uses every core; each shingle is md5'd ONCE in
    codegen and the shuffle key is its two decoded 32-bit halves
    (64 bits of discrimination, two bigints — never the raw k-word
    string, which at k=8 averages ~50 bytes); both aggregations are
    map-side combinable, and the (v1, v2) grouping reuses nothing from
    the doc layout so it is the one unavoidable corpus-wide shuffle —
    O(total token count) rows of three ints. A same-hash collision
    would mark an unrelated k-gram duplicated; at 64 bits that needs
    ~2^32 distinct k-grams in one corpus, and the DuckDB oracle states
    the identical decode so the certificate is exact either way.

    Returns (doc_id, n_shingles, dup_shingles, dup_frac, dup_heavy);
    documents with fewer than ``k`` words carry no k-gram and are
    absent, matching the empty ``range()`` in the SQL restatement.

    ``frames``: a prebuilt :func:`substring_gram_frames` triple —
    its per_doc_gram counts position ROWS per (gram, doc), which are
    exactly the occurrence counts the unshared path builds, and
    carries nd pre-joined, so the per-run work collapses to the final
    per-doc aggregation over one cached frame; values are identical,
    only the plan changes.
    """
    if frames is not None:
        # nd is pre-joined in the shared frame: the per-run work is
        # this one aggregation over a cached frame
        _, joined, _ = frames
    else:
        hashed = _hashed_word_kgrams(
            df, text_col, id_col, k, with_positions=False
        )
        per_doc_gram = hashed.groupBy("v1", "v2", "doc").agg(
            F.count(F.lit(1)).alias("occ")
        )
        # per_doc_gram is already unique on (v1, v2, doc), so the
        # distinct-doc count per gram is a plain count — map-side
        # combinable.
        gram_docs = per_doc_gram.groupBy("v1", "v2").agg(
            F.count(F.lit(1)).alias("nd")
        )
        joined = per_doc_gram.join(gram_docs, ["v1", "v2"])
    stats = (
        joined
        .groupBy("doc")
        .agg(
            F.sum("occ").alias("n_shingles"),
            F.sum(
                F.when(F.col("nd") >= min_docs, F.col("occ")).otherwise(F.lit(0))
            ).alias("dup_shingles"),
        )
    )
    dup_frac = F.round(F.col("dup_shingles") / F.col("n_shingles"), 6)
    return stats.select(
        F.col("doc").alias("doc_id"),
        "n_shingles",
        "dup_shingles",
        dup_frac.alias("dup_frac"),
        (dup_frac >= F.lit(flag_frac)).cast("int").alias("dup_heavy"),
    )


def substring_dup_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
    frames: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Removal-plan accounting for exact substring dedup: how many
    WORDS of each document sit inside at least one cross-document
    duplicated word ``k``-gram (the span a substring-dedup pass would
    delete). :func:`substring_dup_stats` counts duplicated k-gram
    POSITIONS; overlapping positions share words, so the deletable
    volume needs the interval UNION — computed here as
    explode(position -> its k word indexes) + per-doc distinct count,
    which is exact, needs no sort-based interval merge, and stays a
    pair of map-side-combinable aggregates (the explode is a fixed
    x``k`` fan-out of only the DUPLICATED positions, which real
    corpora keep sparse).

    Same hashing/shuffle contract as ``substring_dup_stats`` (one md5
    per occurrence, (v1, v2) bigint shuffle keys); the distinct-doc
    count per gram here is a ``countDistinct`` because position rows
    repeat (gram, doc) pairs. Returns (doc_id, n_words,
    covered_words, removal_frac) for every doc with >= k words;
    covered_words = 0 rows are kept — the plan needs the "nothing to
    delete" docs too.

    ``frames``: a prebuilt :func:`substring_gram_frames` triple — its
    pos frame carries nd pre-joined (a plain count of unique
    (gram, doc) rows, which equals the countDistinct over position
    rows the unshared path computes), so the per-run work is the
    duplicated-position filter + interval union over one cached frame.
    """
    if frames is not None:
        dup_pos = frames[0].filter(F.col("nd") >= min_docs)
    else:
        hashed = _hashed_word_kgrams(
            df, text_col, id_col, k, with_positions=True
        )
        gram_docs = hashed.groupBy("v1", "v2").agg(
            F.countDistinct("doc").alias("nd")
        )
        dup_pos = hashed.join(gram_docs, ["v1", "v2"]).filter(
            F.col("nd") >= min_docs
        )
    covered = (
        dup_pos
        .select(
            "doc", F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("w")
        )
        .groupBy("doc")
        .agg(F.countDistinct("w").alias("covered_words"))
    )
    base = df.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).alias("n_words"),
    ).filter(F.col("n_words") >= k)
    return (
        base.join(covered, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_words",
            F.coalesce("covered_words", F.lit(0)).alias("covered_words"),
            F.round(
                F.coalesce("covered_words", F.lit(0)) / F.col("n_words"), 6
            ).alias("removal_frac"),
        )
    )
