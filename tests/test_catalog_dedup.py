"""Semantic pins for dedup queries (``catalog/dedup``) that the DuckDB
oracle sweep (tests/test_oracle.py) cannot state: incremental-batch
verdicts and plan guards, planted-pair recall, and embedding-IVF
subset-of-brute-force laws."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark import catalog
from incubyte_vaccination_data_pipeline_spark.catalog import dedup
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table


def test_incremental_batch_verdicts(spark, sf_dir):
    """Semantic anchor for the verdict rule: every exact-copy arrival
    is matched 'exact' back to its source doc, every near-copy arrival
    is 'exact-or-near' (a tailed copy can still hash-equal nothing, so
    it must be near) to its source, and every reversed-novel arrival
    is 'novel' with null match columns."""
    rows = {
        r["batch_doc"]: r
        for r in catalog.QUERIES["dedup_incremental_batch"](spark, sf_dir).collect()
    }
    docs = read_table(spark, sf_dir, "documents").select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in docs)
    exact_ids = [i for i in ids if i % 10 == 0]
    near_ids = [i for i in ids if i % 7 == 0]
    novel_ids = [i for i in ids if i % 13 == 1]
    assert len(rows) == len(exact_ids) + len(near_ids) + len(novel_ids)
    for i in exact_ids:
        r = rows[i + 1_000_000]
        assert r["match_type"] == "exact" and r["matched_doc_id"] == i
        assert r["est_jaccard"] == 1.0
    n_near, n_source, n_matched = 0, 0, 0
    corpus_ids = set(ids)
    for i in near_ids:
        r = rows[i + 2_000_000]
        # a SHORT doc's 5-token tail can legitimately push est_jaccard
        # below the threshold ('novel'), and the argmax may pick a
        # corpus doc MORE similar than the source (corpus docs can be
        # mutually similar) — so pin distributional facts: matches are
        # valid corpus targets above the threshold, the large majority
        # of tailed copies ARE detected, and detected ones mostly
        # match their source
        if r["match_type"] == "novel":
            assert r["matched_doc_id"] is None and r["est_jaccard"] is None
            continue
        n_matched += 1
        assert r["matched_doc_id"] in corpus_ids
        n_source += r["matched_doc_id"] == i
        if r["match_type"] == "near":
            n_near += 1
            assert r["est_jaccard"] >= dedup.INCREMENTAL_MIN_EST
    assert n_near > 0, "no near verdict — the near path is untested"
    assert n_matched >= 0.7 * len(near_ids), (n_matched, len(near_ids))
    assert n_source >= 0.8 * n_matched, (n_source, n_matched)
    for i in novel_ids:
        r = rows[i + 3_000_000]
        assert r["match_type"] == "novel"
        assert r["matched_doc_id"] is None and r["est_jaccard"] is None


def test_incremental_batch_never_joins_batch_to_batch(spark, sf_dir):
    """The incremental claim, pinned as an operator property: the
    candidate pairs produced by incremental_minhash_matches never pair
    two batch docs or two corpus docs — only batch -> corpus."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        incremental_minhash_matches,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    pairs = incremental_minhash_matches(docs, batch).collect()
    assert pairs, "no candidate pairs at all"
    for r in pairs:
        assert r["batch_doc"] >= 1_000_000 > r["corpus_doc"]


def test_incremental_batch_empty_batch_is_empty_frame(spark, sf_dir):
    """A day with no arrivals must produce an empty match frame, not an
    error — the scheduled-ingest edge every production pipeline hits."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        incremental_minhash_matches,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    empty = docs.filter(F.lit(False))
    out = incremental_minhash_matches(docs, empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "batch_doc",
        "corpus_doc",
        "est_jaccard",
    ]


def test_incremental_minhash_fuzz_vs_python_reference(spark):
    """Randomized cross-check of incremental_minhash_matches against a
    pure-Python MinHash/LSH reference (same md5-half decode, same
    universal-hash coefficients, same banding): candidate pair sets
    and 6-dp estimates must match exactly, including documents too
    short to shingle (dropped on both sides)."""
    import hashlib
    import random

    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        MINHASH_COEFFS,
        MINHASH_PRIME,
        incremental_minhash_matches,
    )

    def sig(text, k=3, n=12):
        words = text.lower().split(" ")
        if len(words) < k:
            return None
        shingles = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
        mins = [MINHASH_PRIME] * n
        for s in shingles:
            hx = hashlib.md5(s.encode()).hexdigest()
            v1, v2 = int(hx[:8], 16), int(hx[8:16], 16)
            for i, (a, b, c) in enumerate(MINHASH_COEFFS[:n]):
                mins[i] = min(mins[i], (a * v1 + b * v2 + c) % MINHASH_PRIME)
        return mins

    def bands(s, nb=4, rpb=3):
        return {
            f"{b}|" + "|".join(str(x) for x in s[b * rpb : (b + 1) * rpb])
            for b in range(nb)
        }

    n_pairs_total = 0
    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        corpus = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12))))
            for i in range(20)
        ]
        batch = []
        for j in range(10):
            if j % 2 == 0 and corpus[j][1]:
                # mutated copy of a corpus doc — likely near-dup
                t = corpus[j][1] + " " + rng.choice(vocab)
            else:
                t = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12)))
            batch.append((100 + j, t))

        expected = {}
        for bid, btext in batch:
            sb = sig(btext)
            if sb is None:
                continue
            for cid, ctext in corpus:
                sc = sig(ctext)
                if sc is None or not (bands(sb) & bands(sc)):
                    continue
                est = round(sum(x == y for x, y in zip(sb, sc)) / 12, 6)
                if est >= 0.5:
                    expected[(bid, cid)] = est

        cdf = spark.createDataFrame(corpus, "doc_id bigint, text string")
        bdf = spark.createDataFrame(batch, "doc_id bigint, text string")
        got = {
            (r["batch_doc"], r["corpus_doc"]): r["est_jaccard"]
            for r in incremental_minhash_matches(cdf, bdf).collect()
        }
        assert got == expected, (seed, got, expected)
        n_pairs_total += len(expected)
    assert n_pairs_total > 0, "fuzz produced zero expected pairs — vacuous"


def test_wide_simhash_finds_exact_planted_pairs(spark, sf_dir):
    """Exact copies collide at any width: every planted exact-dup pair
    (d, d+1000000) must appear with hamming 0; and the 48-bit band
    space must not spray junk — pair count bounded well under the
    32-bit query's candidate volume at the same corpus."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import (
        augmented_documents,
    )

    rows = dedup.dedup_simhash_hamming_wide_q(spark, sf_dir).collect()
    # the junk bound the wide path exists for: the 48-bit band space
    # must not spray candidates — the 32-bit catalog query at the same
    # corpus and threshold is the saturation baseline, and the wide
    # result must not exceed it (at 10x/30x the measured gap is
    # 2.65M/24M vs 134k-274k pairs; at test SF both are small but the
    # ordering must already hold)
    n32 = catalog.QUERIES["dedup_simhash_hamming"](spark, sf_dir).count()
    assert len(rows) <= n32, (len(rows), n32)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    planted = [
        (r["doc_id"] - 1000000, r["doc_id"])
        for r in augmented_documents(spark, sf_dir)
        .filter((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000))
        .collect()
    ]
    assert planted
    for p in planted:
        assert found.get(p) == 0, f"planted exact pair {p} missing or nonzero"


def test_embedding_ivf_subset_of_bruteforce_with_equal_scores(spark, sf_dir):
    """Cell blocking only PRUNES: every returned pair appears in the
    all-pairs brute-force result with the identical rounded cosine,
    and top-2-of-16-cells keeps a substantial fraction of the
    threshold tail on this near-uniform corpus (measured 0.56-0.57 at
    sf0.001/sf0.01 — the tail pairs are weakly-similar noise, the
    hardest case for content blocking; exact dups are recall-1 by
    construction, pinned below)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.similarity import (
        NEAR_DUP_THRESHOLD,
    )
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    brute = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs(
            emb, threshold=NEAR_DUP_THRESHOLD, block_col=None
        ).collect()
    }
    ivf = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in dedup.dedup_embedding_ivf_q(spark, sf_dir).collect()
    }
    assert ivf, "IVF pair generation returned nothing"
    assert set(ivf) <= set(brute)
    for pair, cos in ivf.items():
        assert cos == brute[pair], (pair, cos, brute[pair])
    assert len(ivf) / len(brute) >= 0.5


def test_embedding_ivf_planted_exact_dups_recall_one(spark, sf_dir):
    """An exact duplicate vector always shares ALL its cells with its
    copy, so multi-assignment cell blocking finds every planted
    exact-dup pair with cosine exactly 1.0 — the property that makes
    this the semantic-dedup scale path (true dups are clustered; the
    probabilistic loss lives in the weakly-similar tail only)."""
    from incubyte_vaccination_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_ivf,
        ivf_centroids,
    )

    base = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    copies = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(copies)
    cents = ivf_centroids(corpus, n_centroids=8)
    pairs = {
        (row["vec_a"], row["vec_b"]): row["cosine"]
        for row in cosine_near_dup_pairs_ivf(
            corpus, cents, threshold=0.99, assign_m=2
        ).collect()
    }
    planted = {(v, v + 1_000_000) for v in range(50)}
    assert planted <= set(pairs)
    assert all(pairs[p] == 1.0 for p in planted)
