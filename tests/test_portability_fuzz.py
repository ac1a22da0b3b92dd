"""Cross-engine portability fuzz for the hash-arithmetic operators.

The dedup/text oracle parity rests on md5 + integer arithmetic being
bit-identical in Spark and DuckDB. The sf-testdata corpus is benign, so
this suite feeds deliberately hostile ASCII corpora (empty strings,
single tokens, repeated/odd whitespace, punctuation runs, long docs,
1-char-apart near-identicals, byte-identical copies) through the SAME
catalog queries + oracle SQL used by the driver gate and compares
engine outputs exactly.

Scope note: corpora are printable ASCII by design — the testdata is
ASCII and unicode case-mapping legitimately differs between the JVM and
DuckDB's ICU (documented, out of the driver gate's domain).
"""

from __future__ import annotations

import random
import string

import duckdb
import pandas as pd
import pytest

from incubyte_vaccination_data_pipeline_spark import catalog

FUZZED_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "dedup_ngram_jaccard_prefix",
    "text_normalized_exact_dedup",
    "dedup_exact",
    "text_repetition_ratios",
    "text_boilerplate_ngrams",
    "text_pii_redaction",
    "text_chunk_overlap",
    "text_filter_funnel",
    # round 9: the cluster family and containment run through the new
    # per-corpus caches (labels / simhash / gram index); each fuzz
    # seed's temp dir forces a fresh cache build, so this also fuzzes
    # the cache keying on hostile corpora
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_cleaned_corpus",
    "text_containment_dedup",
]

EDGE_TEXTS = [
    "",
    " ",
    "   ",
    "word",
    "a  b",
    "a b  c   d",
    "!!! ??? ,,, ...",
    "x" * 500,
    ("lorem ipsum dolor sit amet " * 40).strip(),
]


def _corpus(seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 8)))
             for _ in range(80)]
    texts = list(EDGE_TEXTS)
    while len(texts) < 36:
        n = rng.randint(3, 60)
        texts.append(" ".join(rng.choice(words) for _ in range(n)))
    # planted structure: byte-identical copy + 1-token-apart near dup
    texts.append(texts[10])
    texts.append(texts[12] + " zz")
    rows = [
        {
            "doc_id": i,
            "text": t,
            "lang": rng.choice(["en", "de", "fr"]),
            "source": rng.choice(["web", "book"]),
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]
    return pd.DataFrame(rows)


#: default three seeds keep the suite fast; a wide sweep is one env var
#: away (SPARK_GRAFT_FUZZ_SEEDS="0-29" or "1,2,3") — round evidence
#: runs use it without bloating every CI pass
def _seeds() -> list[int]:
    import os

    spec = os.environ.get("SPARK_GRAFT_FUZZ_SEEDS", "")
    if not spec:
        return [7, 42, 20260813]
    if "-" in spec and "," not in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",") if x]


@pytest.mark.parametrize("seed", _seeds())
def test_hash_arithmetic_matches_oracle_on_hostile_corpus(spark, tmp_path, seed):
    pdf = _corpus(seed)
    sf_dir = tmp_path / f"fuzz{seed}"
    sf_dir.mkdir()
    con = duckdb.connect()
    con.register("pdf", pdf)
    con.execute(
        f"COPY (SELECT * FROM pdf) TO '{sf_dir}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    for name in FUZZED_QUERIES:
        s = catalog.QUERIES[name](spark, str(sf_dir)).toPandas()
        d = con.execute(catalog.ORACLES[name]).df()
        assert sorted(c.lower() for c in s.columns) == sorted(
            c.lower() for c in d.columns
        ), name
        s.columns = [c.lower() for c in s.columns]
        d.columns = [c.lower() for c in d.columns]
        cols = sorted(s.columns)
        st = sorted(map(tuple, s[cols].astype(str).values.tolist()))
        dt = sorted(map(tuple, d[cols].astype(str).values.tolist()))
        assert st == dt, (
            f"{name} seed={seed}: {len(st)} spark vs {len(dt)} oracle rows; "
            f"first diff: "
            f"{next(((a, b) for a, b in zip(st, dt) if a != b), '<no pairwise diff; row counts differ>') if st and dt else (st[:1], dt[:1])}"
        )


#: (1-based start, hex digits) windows the catalog decodes: the 16-bit
#: salted samplers, both MinHash/CMS halves, the 48-bit SimHash and the
#: widest decode that still fits a bigint
_DECODE_WINDOWS = [(1, 4), (1, 8), (9, 8), (1, 12), (1, 15)]


def test_md5_hex_decoder_matches_python_in_both_engines(spark):
    """The one positional md5-hex decoder evaluates to
    ``int(hexdigest[start-1:start-1+digits], 16)`` in Spark (``instr``,
    through ``F.expr``) and in DuckDB (``strpos``) alike."""
    import hashlib

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.dedup import (
        md5_half_decode_sql,
    )

    rng = random.Random(20261018)
    texts = list(EDGE_TEXTS) + ["\t", "0", "ffffffff", "Z" * 64]
    while len(texts) < 220:
        n = rng.randint(1, 40)
        texts.append("".join(rng.choices(string.printable, k=n)))
    cols = [f"d{s}_{n}" for s, n in _DECODE_WINDOWS]
    want = []
    for i, t in enumerate(texts):
        h = hashlib.md5(t.encode()).hexdigest()
        want.append((i, *(int(h[s - 1:s - 1 + n], 16) for s, n in _DECODE_WINDOWS)))

    sdf = spark.createDataFrame(list(enumerate(texts)), "i int, s string").select(
        "i", F.md5("s").alias("m")
    )
    got_spark = sdf.select(
        "i",
        *(
            F.expr(md5_half_decode_sql("m", s, digits=n)).alias(c)
            for (s, n), c in zip(_DECODE_WINDOWS, cols)
        ),
    ).collect()
    assert sorted(tuple(r) for r in got_spark) == want

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "s": texts}))
    decodes = ", ".join(
        f"{md5_half_decode_sql('m', s, 'strpos', digits=n)} AS {c}"
        for (s, n), c in zip(_DECODE_WINDOWS, cols)
    )
    got_duck = con.execute(
        f"SELECT i, {decodes} FROM (SELECT i, md5(s) AS m FROM t) ORDER BY i"
    ).fetchall()
    con.close()
    assert [tuple(r) for r in got_duck] == want
