"""Semantic pins for text queries (``catalog/text_ext``) that the DuckDB
oracle sweep (tests/test_oracle.py) cannot state: every derived snippet
resolves to its true containment source; substring dedup and its
removal plan are hash-collision-free at test scale, discriminate the
dup_heavy flag and obey coverage laws; BM25 ranking laws; plan
shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.catalog import text_ext
from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
    substring_dup_stats,
)
from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_containment_finds_true_sources(spark, sf_dir):
    """Every derived snippet is a prefix of its source, so its best
    match must be the source doc with containment exactly 1.0."""
    rows = text_ext.text_containment_dedup(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["matched_doc"] == r["sid"] - text_ext._SNIP_OFFSET or (
            r["containment"] == 1.0
        ), r  # a different doc may win only by also containing it fully
    # and the overwhelming majority resolve to their own source
    own = sum(r["matched_doc"] == r["sid"] - text_ext._SNIP_OFFSET for r in rows)
    assert own / len(rows) > 0.9


def test_substring_dedup_hash_equals_raw_shingles(spark, sf_dir):
    """The 64-bit (v1, v2) shingle key must be collision-free at test
    scale: recomputing the same statistics grouped by the RAW k-gram
    string (the arbitrarily-wide shuffle key the operator exists to
    avoid) gives identical rows."""
    docs = read_table(spark, sf_dir, "documents")
    hashed = {
        row["doc_id"]: (row["n_shingles"], row["dup_shingles"])
        for row in text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    }
    words = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("words")
    ).filter(F.size("words") >= text_ext.SUBSTR_K)
    sh = words.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(1, size(words) - {text_ext.SUBSTR_K - 1}),"
            f" i -> array_join(slice(words, i, {text_ext.SUBSTR_K}), ' ')))"
        ).alias("shingle"),
    )
    per = sh.groupBy("shingle", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    nd = per.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    raw = {
        row["doc_id"]: (row["n"], row["d"])
        for row in per.join(nd, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n"),
            F.sum(
                F.when(F.col("nd") >= text_ext.SUBSTR_MIN_DOCS, F.col("occ")).otherwise(
                    F.lit(0)
                )
            ).alias("d"),
        )
        .collect()
    }
    assert hashed == raw


def test_substring_dedup_flag_discriminates(spark, sf_dir):
    """The planted duplicate structure must make dup_heavy a real
    signal: some flagged, most not, bounds respected."""
    rows = text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    assert rows
    heavy = [row for row in rows if row["dup_heavy"] == 1]
    assert 0 < len(heavy) < len(rows) / 2
    for row in rows:
        assert 0 <= row["dup_shingles"] <= row["n_shingles"]
        assert 0.0 <= row["dup_frac"] <= 1.0
        assert row["dup_heavy"] == int(row["dup_frac"] >= text_ext.SUBSTR_FLAG_FRAC)


def test_bm25_ranking_laws(spark, sf_dir):
    """Ranks contiguous from 1, scores non-increasing along the rank,
    matched-term count within [1, BM25_N_TERMS], and every returned
    document really contains at least one derived query term."""
    out = text_ext.text_bm25_topk_q(spark, sf_dir).collect()
    # every test corpus has well over BM25_TOP_K docs matching the
    # derived query terms, so the cut must return exactly top-K
    assert len(out) == text_ext.BM25_TOP_K
    ranks = sorted(row["rank"] for row in out)
    assert ranks == list(range(1, len(out) + 1))
    by_rank = sorted(out, key=lambda row: row["rank"])
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a["bm25"], -a["doc_id"]) >= (b["bm25"], -b["doc_id"])
    assert all(1 <= row["n_query_terms"] <= text_ext.BM25_N_TERMS for row in out)

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") >= text_ext.BM25_MIN_TOK_LEN)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    qterms = {
        row["tok"]
        for row in tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(text_ext.BM25_N_TERMS)
        .collect()
    }
    assert len(qterms) == text_ext.BM25_N_TERMS
    assert all(len(t) >= text_ext.BM25_MIN_TOK_LEN for t in qterms)
    doc_terms = {
        row["doc_id"]: row["ts"]
        for row in tf.filter(F.col("tok").isin(list(qterms)))
        .groupBy("doc_id")
        .agg(F.collect_set("tok").alias("ts"))
        .collect()
    }
    for row in out:
        assert row["doc_id"] in doc_terms
        assert len(doc_terms[row["doc_id"]]) == row["n_query_terms"]


def test_substring_dedup_operator_edge_short_docs(spark):
    """Documents with fewer than k words contribute no k-gram and are
    absent; a corpus of two identical long docs reports dup_frac 1.0
    on both."""
    df = spark.createDataFrame(
        [
            (1, "a b c"),  # < k words: absent
            (2, "one two three four five six seven eight nine"),
            (3, "one two three four five six seven eight nine"),
            (4, "totally different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {row["doc_id"]: row for row in substring_dup_stats(df).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["dup_frac"] == 1.0 and out[3]["dup_frac"] == 1.0
    assert out[2]["dup_heavy"] == 1
    assert out[4]["dup_shingles"] == 0 and out[4]["dup_heavy"] == 0


def test_substring_dedup_plan_shape(spark, sf_dir):
    """100 TB posture: the corpus-wide shuffles ride the two decoded
    bigint halves — the raw k-word shingle string never appears in a
    hashpartitioning key — and no join degrades to a nested loop or
    cartesian; the documents scan reads only (doc_id, text)."""
    import re

    plan = _plan(
        text_ext.text_substring_dedup_q(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "shingle" not in m.group(1), (
            "shingle string must be hashed to (v1, v2) before any shuffle"
        )
    scan = plan[plan.index("Scan parquet") :]
    read_cols = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert sorted(c.split("#")[0] for c in read_cols if c) == ["doc_id", "text"]


def test_bm25_plan_shape(spark, sf_dir):
    """100 TB posture: the 5-term query frame and 1-row stats broadcast
    (>=2 BroadcastHashJoins; the single nested-loop is the 1-row stats
    cross join), and the global top-20 is TakeOrderedAndProject — a
    per-partition heap, never a single-partition global sort."""
    from incubyte_vaccination_data_pipeline_spark.catalog.text_ext import (
        text_bm25_topk_q,
    )

    plan = _plan(text_bm25_topk_q(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_substring_dup_stats_random_corpora_vs_reference(spark):
    """30 random corpora (tiny per-corpus vocabularies force heavy
    within-corpus 8-gram collisions — the worst case for the counting
    logic; per-corpus token prefixes keep gram spaces disjoint so one
    Spark job checks all 30) against a pure-Python reference."""
    import random
    from collections import defaultdict

    k = 8
    rng = random.Random(20260816)
    rows = []
    expected = {}
    for c in range(30):
        vocab = [f"c{c}w{j}" for j in range(rng.randint(2, 6))]
        docs = {}
        for d in range(rng.randint(1, 8)):
            doc_id = c * 1000 + d
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 18))]
            docs[doc_id] = words
            rows.append((doc_id, " ".join(words)))
        gram_docs = defaultdict(set)
        for doc_id, ws in docs.items():
            for i in range(len(ws) - k + 1):
                gram_docs[tuple(ws[i : i + k])].add(doc_id)
        for doc_id, ws in docs.items():
            n = len(ws) - k + 1
            if n <= 0:
                continue
            dup = sum(
                1
                for i in range(n)
                if len(gram_docs[tuple(ws[i : i + k])]) >= 2
            )
            expected[doc_id] = (n, dup)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        row["doc_id"]: (row["n_shingles"], row["dup_shingles"])
        for row in substring_dup_stats(df, k=k).collect()
    }
    assert got == expected


def test_removal_plan_coverage_laws(spark, sf_dir):
    """Interval-union laws against the position stats: a doc with no
    duplicated positions covers 0 words; a doc with d >= 1 duplicated
    positions covers between k (one position) and min(n_words, k*d)
    (disjoint positions) words; and the removal fraction is the exact
    covered/n_words ratio."""
    stats = {
        row["doc_id"]: row["dup_shingles"]
        for row in text_ext.text_substring_dedup_q(spark, sf_dir).collect()
    }
    plan = text_ext.text_substring_removal_plan_q(spark, sf_dir).collect()
    assert {row["doc_id"] for row in plan} == set(stats)
    k = text_ext.SUBSTR_K
    for row in plan:
        d = stats[row["doc_id"]]
        c = row["covered_words"]
        if d == 0:
            assert c == 0
        else:
            assert k <= c <= min(row["n_words"], k * d)
        assert row["removal_frac"] == round(c / row["n_words"], 6)
    assert any(row["covered_words"] > 0 for row in plan)
    assert any(row["covered_words"] == 0 for row in plan)


def test_removal_plan_full_duplicate_covers_everything(spark):
    """Two identical docs: every word sits in a duplicated 8-gram, so
    coverage is total and removal_frac is exactly 1.0; a unique doc in
    the same corpus covers nothing."""
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        substring_dup_coverage,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "ten fresh words nothing shared with any other doc here")],
        "doc_id long, text string",
    )
    out = {row["doc_id"]: row for row in substring_dup_coverage(df).collect()}
    assert out[1]["covered_words"] == out[1]["n_words"] == 10
    assert out[1]["removal_frac"] == 1.0
    assert out[2]["removal_frac"] == 1.0
    assert out[3]["covered_words"] == 0 and out[3]["removal_frac"] == 0.0


def test_removal_plan_plan_shape(spark, sf_dir):
    """Same shuffle contract as the stats query: the raw shingle string
    never rides a shuffle, no nested-loop/cartesian joins, documents
    scan pruned to (doc_id, text)."""
    import re

    plan = _plan(text_ext.text_substring_removal_plan_q(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "shingle" not in m.group(1)
    scan = plan[plan.index("Scan parquet") :]
    read_cols = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1).split(",")
    assert sorted(c.split("#")[0] for c in read_cols if c) == ["doc_id", "text"]
