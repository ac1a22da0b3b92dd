"""Hand-computed ground truth for the round-4 composite operators.

Oracle parity proves Spark and DuckDB agree; these tests pin the
SEMANTICS against values computed by hand (or by an independent
pure-Python reference) on tiny inputs, so a bug shared by both
engine-side derivations cannot hide (the same layering the ANN
operators use: recall certificates in the catalog, exact-set parity
vs a numpy reference here).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_pagerank_hand_computed_star_graph(spark):
    """Star graph c1-s1, c2-s1, c3-s1 (symmetrized). Degrees:
    c*=1 each, s1=3. All start at 1_000_000.

    it1: each c contributes 1_000_000 to s1 -> s1 recv 3_000_000;
    s1 contributes 333_333 to each c (1_000_000 div 3).
    scores: s1 = 150000 + 85*3_000_000 div 100 = 2_700_000
            c* = 150000 + 85*333_333 div 100 = 433_333
    it2: c* contribute 433_333 each -> s1 = 150000 +
         (85 * 1_299_999) div 100 = 1_254_999;
         s1 contributes 2_700_000 div 3 = 900_000 to each c ->
         c* = 150000 + 765000 = 915_000
    it3: s1 = 150000 + (85 * 3 * 915_000) div 100 = 2_483_250
         c* = 150000 + (85 * (1_254_999 div 3)) div 100
            = 150000 + (85 * 418_333) div 100 = 505_583
    """
    from incubyte_vaccination_data_pipeline_spark.catalog.graph import (
        PR_SCALE,
        _TELEPORT,
    )

    assert PR_SCALE == 1_000_000 and _TELEPORT == 150_000
    # run the same integer iteration the catalog query uses, on an
    # in-memory edge list (the catalog query derives edges from
    # lineitem; the arithmetic under test is identical)
    base = spark.createDataFrame(
        [("c1", "s1"), ("c2", "s1"), ("c3", "s1")], "src string, dst string"
    )
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    score = deg.select("node", F.lit(PR_SCALE).cast("bigint").alias("score"))
    for _ in range(3):
        contrib = score.join(deg, "node").select(
            "node", F.expr("score div out_deg").alias("contrib")
        )
        recv = (
            edges.join(contrib, edges.src == contrib.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("recv"))
        )
        score = deg.select("node").join(recv, "node", "left").select(
            "node",
            (
                F.lit(_TELEPORT) + F.expr("(85 * coalesce(recv, 0)) div 100")
            ).cast("bigint").alias("score"),
        )
    got = {r["node"]: r["score"] for r in score.collect()}
    assert got == {
        "s1": 2_483_250,
        "c1": 505_583,
        "c2": 505_583,
        "c3": 505_583,
    }, got


def test_scd2_hand_computed_versions(spark, sf_dir, seed_table, tmp_path):
    """A four-order change log with a run, a flip, and a flip-back
    must collapse to exactly three versions with tiling intervals."""
    from incubyte_vaccination_data_pipeline_spark.catalog.relational_ext import (
        scd2_priority_history,
    )

    rows = [
        (1, dt.date(2020, 1, 1), 10, "LOW"),
        (1, dt.date(2020, 2, 1), 11, "LOW"),   # same run
        (1, dt.date(2020, 3, 1), 12, "HIGH"),  # flip
        (1, dt.date(2020, 4, 1), 13, "LOW"),   # flip back = NEW version
        (2, dt.date(2020, 5, 1), 14, "MED"),   # second customer
    ]
    orders = spark.createDataFrame(
        rows,
        "o_custkey bigint, o_orderdate date, o_orderkey bigint,"
        " o_orderpriority string",
    )
    seed_table(str(tmp_path), "orders", orders)
    out = {
        (r["cust_i"], r["version"]): r
        for r in scd2_priority_history(spark, str(tmp_path)).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (1, 3), (2, 1)}
    v1, v2, v3 = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (v1["priority"], v1["n_orders"]) == ("LOW", 2)
    assert (v2["priority"], v2["n_orders"]) == ("HIGH", 1)
    assert (v3["priority"], v3["n_orders"]) == ("LOW", 1)
    # intervals tile: [1/1, 3/1) [3/1, 4/1) [4/1, inf)
    assert v1["effective_from"] == dt.date(2020, 1, 1)
    assert v1["effective_to"] == dt.date(2020, 3, 1)
    assert v2["effective_to"] == dt.date(2020, 4, 1)
    assert v3["effective_to"] is None and v3["is_current"]
    assert out[(2, 1)]["is_current"]


def test_snapshot_diff_hand_computed(spark, sf_dir, seed_table, tmp_path):
    """Keys chosen to hit every branch: 97*101*? -- use the real
    moduli: 0 is change+delete+add (delete wins on the kept side),
    97 changes, 101 deletes, 103 adds at +3_000_000, 1 unchanged."""
    from incubyte_vaccination_data_pipeline_spark.catalog.quality import (
        snapshot_diff_orders,
    )

    rows = [(k, "O", 100.0) for k in (1, 97, 101, 103)]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    )
    seed_table(str(tmp_path), "orders", orders)
    out = {
        (r["o_orderkey"], r["change_kind"]): r
        for r in snapshot_diff_orders(spark, str(tmp_path)).collect()
    }
    # 1: unchanged -> absent. 97: status flips to X. 101: deleted.
    # 103: survives unchanged AND spawns 3_000_103 as added.
    assert set(out) == {
        (97, "changed"),
        (101, "removed"),
        (3_000_103, "added"),
    }, out
    assert out[(97, "changed")]["old_status"] == "O"
    assert out[(97, "changed")]["new_status"] == "X"
    assert out[(101, "removed")]["new_status"] is None
    assert out[(3_000_103, "added")]["old_status"] is None


def _scd2_reference(rows):
    """Pure-Python SCD2 reference: rows = (cust, date, key, attr)."""
    from collections import defaultdict

    by_cust = defaultdict(list)
    for cust, d, k, a in rows:
        by_cust[cust].append((d, k, a))
    out = {}
    for cust, orders in by_cust.items():
        orders.sort()
        versions = []  # (priority, from, n)
        for d, _k, a in orders:
            if not versions or versions[-1][0] != a:
                versions.append([a, d, 1])
            else:
                versions[-1][2] += 1
        for i, (a, frm, n) in enumerate(versions):
            to = versions[i + 1][1] if i + 1 < len(versions) else None
            out[(cust, i + 1)] = (a, frm, to, to is None, n)
    return out


def test_scd2_random_change_logs_match_reference(spark, seed_table, tmp_path):
    """Random change logs vs the pure-Python reference: versions,
    intervals, counts, and currency flags all agree."""
    import random

    from incubyte_vaccination_data_pipeline_spark.catalog.relational_ext import (
        scd2_priority_history,
    )

    rng = random.Random(99)
    rows = []
    key = 0
    for cust in range(1, 13):
        for _ in range(rng.randint(1, 12)):
            key += 1
            rows.append(
                (
                    cust,
                    dt.date(2020, rng.randint(1, 12), rng.randint(1, 28)),
                    key,
                    rng.choice(["LOW", "MED", "HIGH"]),
                )
            )
    # duplicate dates across a customer exercise the orderkey tie-break
    orders = spark.createDataFrame(
        rows,
        "o_custkey bigint, o_orderdate date, o_orderkey bigint,"
        " o_orderpriority string",
    )
    seed_table(str(tmp_path), "orders", orders)
    # reference must see the same (date, key) sort order
    ref = _scd2_reference([(c, (d, k), k, a) for c, d, k, a in rows])
    got = {
        (r["cust_i"], r["version"]): (
            r["priority"],
            r["effective_from"],
            r["effective_to"],
            r["is_current"],
            r["n_orders"],
        )
        for r in scd2_priority_history(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        attr, (frm_d, _), to, cur, n = ref[k]
        g_attr, g_from, g_to, g_cur, g_n = got[k]
        assert g_attr == attr and g_n == n and g_cur == cur, (k, ref[k], got[k])
        assert g_from == frm_d
        assert (g_to is None) == (to is None)
        if to is not None:
            assert g_to == to[0]


def test_repetition_ratios_match_counter_reference(spark, seed_table, tmp_path):
    """Random small docs vs collections.Counter ground truth."""
    import random
    from collections import Counter

    from incubyte_vaccination_data_pipeline_spark.catalog.text import (
        text_repetition_ratios_q,
    )

    rng = random.Random(5)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = []
    for i in range(25):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 30))]
        rows.append((i, " ".join(words), "en", "src", len(" ".join(words))))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    seed_table(str(tmp_path), "documents", docs)
    got = {
        r["doc_id"]: r
        for r in text_repetition_ratios_q(spark, str(tmp_path)).collect()
    }
    for doc_id, text, *_ in rows:
        words = text.split()
        c = Counter(words)
        bi = Counter(
            f"{a} {b}" for a, b in zip(words, words[1:])
        )
        r = got[doc_id]
        assert r["n_words"] == len(words)
        assert r["n_distinct_words"] == len(c)
        assert abs(r["top_word_frac"] - max(c.values()) / len(words)) < 1e-6
        if bi:
            assert abs(
                r["top_bigram_frac"] - max(bi.values()) / sum(bi.values())
            ) < 1e-6
        else:
            assert r["top_bigram_frac"] == 0.0


def test_triangle_count_k4_has_four_triangles(spark, seed_table, tmp_path):
    """K4 as a co-purchase graph: parts 1-4 all pairwise co-bought
    (each pair shares >= 2 orders to clear the support threshold) ->
    C(4,3) = 4 triangles, 6 edges."""
    from incubyte_vaccination_data_pipeline_spark.catalog.graph import (
        graph_triangle_count,
    )

    rows = []
    order = 0
    for a in range(1, 5):
        for b in range(a + 1, 5):
            for _ in range(2):  # support >= 2 per pair
                order += 1
                rows += [(order, a), (order, b)]
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    seed_table(str(tmp_path), "lineitem", li)
    r = graph_triangle_count(spark, str(tmp_path)).collect()[0]
    assert (r["n_triangles"], r["n_edges"]) == (4, 6)


def test_jpeg_non_interleaved_scan_rejected():
    """A baseline file with one scan per component must raise, not
    silently decode the first component as grayscale."""
    import pytest as _pytest

    from incubyte_vaccination_data_pipeline_spark.operators.multimodal import (
        DecoderNotAvailable,
        decode_jpeg,
    )

    payload, _ = _make_jpeg_rgb_for_scan_test()
    with _pytest.raises(DecoderNotAvailable, match="non-interleaved"):
        decode_jpeg(payload)


def _make_jpeg_rgb_for_scan_test():
    """A 3-component SOF0 whose SOS declares only component 1."""
    from tests.test_training_ops import _make_jpeg

    payload, expected = _make_jpeg(8, 8, bytes([100] * 192), channels=3)
    buf = bytearray(payload)
    i = buf.find(b"\xff\xda")
    seglen = int.from_bytes(buf[i + 2 : i + 4], "big")
    # rewrite the SOS header: Ns=1, keep component 1's table spec,
    # then the spectral-selection bytes
    new_sos = bytes([0xFF, 0xDA, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3F, 0x00])
    buf[i : i + 2 + seglen] = new_sos
    return bytes(buf), expected


def test_gapfill_hand_computed(spark, seed_table, tmp_path):
    """User with events on day 1 and day 4 gets a 4-day spine with
    days 2-3 forward-filled from day 1 and flagged as gaps."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import events_gapfill

    rows = [
        (1, dt.datetime(2024, 1, 1, 5), 1, "view", 5.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 9), 1, "view", 2.5, "{}"),
        (3, dt.datetime(2024, 1, 4, 1), 1, "view", 7.0, "{}"),
        (4, dt.datetime(2024, 2, 1, 0), 2, "view", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    out = {
        (r["user_id"], r["day"]): r
        for r in events_gapfill(spark, str(tmp_path)).collect()
    }
    assert len(out) == 5  # 4 spine days for user 1 + 1 for user 2
    d = dt.date
    assert out[(1, d(2024, 1, 1))]["day_value"] == 7.5
    assert not out[(1, d(2024, 1, 1))]["is_gap"]
    for day in (d(2024, 1, 2), d(2024, 1, 3)):
        r = out[(1, day)]
        assert r["day_value"] is None and r["is_gap"]
        assert r["filled_value"] == 7.5  # carried from day 1
    assert out[(1, d(2024, 1, 4))]["filled_value"] == 7.0
    assert out[(2, d(2024, 2, 1))]["filled_value"] == 1.0


def test_attribution_hand_computed(spark, seed_table, tmp_path):
    """Purchases credit the latest strictly-preceding click; a
    purchase before any click gets NULL."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        events_attribution_lasttouch,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "purchase", 0.0, "{}"),   # before any click -> NULL
        (2, t(1), 1, "click", 0.0, "{}"),
        (3, t(2), 1, "view", 0.0, "{}"),       # ignored event type
        (4, t(3), 1, "purchase", 0.0, "{}"),   # -> click 2
        (5, t(4), 1, "click", 0.0, "{}"),
        (6, t(5), 1, "purchase", 0.0, "{}"),   # -> click 5 (latest)
        (7, t(9), 2, "purchase", 0.0, "{}"),   # other user: no click
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    out = {
        r["purchase_id"]: r
        for r in events_attribution_lasttouch(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 4, 6, 7}
    assert out[1]["click_id"] is None and out[1]["gap_seconds"] is None
    assert out[4]["click_id"] == 2 and out[4]["gap_seconds"] == 120
    assert out[6]["click_id"] == 5 and out[6]["gap_seconds"] == 60
    assert out[7]["click_id"] is None


def test_chunk_overlap_covers_and_strides(spark, seed_table, tmp_path):
    """80 tokens -> 4 chunks at stride 24 (sizes 32/32/32/8); chunks
    reconstruct the document exactly."""
    from incubyte_vaccination_data_pipeline_spark.catalog.text_ext import (
        text_chunk_overlap,
        _CHUNK,
        _STRIDE,
    )

    words = [f"w{i}" for i in range(80)]
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "src0", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    seed_table(str(tmp_path), "documents", docs)
    rows = sorted(
        text_chunk_overlap(spark, str(tmp_path)).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["n_tokens"] for r in rows] == [32, 32, 32, 8]
    import hashlib

    for r in rows:
        start = r["chunk_id"] * _STRIDE
        expect = " ".join(words[start : start + _CHUNK])
        assert r["chunk_md5"] == hashlib.md5(expect.encode()).hexdigest()


def test_pii_redaction_masks_all_types(spark, seed_table, tmp_path):
    """The derived dirty text carries exactly one email/phone/IP and
    the redacted hash equals the hand-built expectation."""
    import hashlib

    from incubyte_vaccination_data_pipeline_spark.catalog.text_ext import text_pii_redaction

    docs = spark.createDataFrame(
        [(42, "hello world", "en", "src0", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    seed_table(str(tmp_path), "documents", docs)
    r = text_pii_redaction(spark, str(tmp_path)).collect()[0]
    assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (1, 1, 1)
    expect = "hello world contact <EMAIL> or <PHONE> from <IP>"
    assert r["redacted_md5"] == hashlib.md5(expect.encode()).hexdigest()


def test_fuzzy_match_prefers_exact_then_lowest_key(spark, seed_table, tmp_path):
    """custkey 0's dirty name (X at position 13) is lev-1 from both
    customer 0 and customer 100000 ('000100000' differs only there);
    the (lev, custkey) tie-break must pick 0 and report 2 candidates
    surviving the masked-band blocking."""
    from incubyte_vaccination_data_pipeline_spark.catalog.entity import (
        fuzzy_match_customers,
        _DIRTY_OFFSET,
    )

    def cust(k):
        return (k, f"Customer#{k:09d}", 0, 0.0, "BUILDING")

    customer = spark.createDataFrame(
        [cust(0), cust(100000), cust(99999)],
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    seed_table(str(tmp_path), "customer", customer)
    out = {
        r["dirty_id"]: r for r in fuzzy_match_customers(spark, str(tmp_path)).collect()
    }
    # dirty twins exist for custkeys 0 and 99999 (both % 3 == 0);
    # 100000 is clean-only and lev-1 from dirty(0), creating the tie
    r0 = out[_DIRTY_OFFSET + 0]
    assert r0["matched_custkey"] == 0 and r0["lev"] == 1
    assert r0["n_candidates"] == 2  # customer 0 and customer 100000
    r1 = out[_DIRTY_OFFSET + 99999]
    # 99999 % 6 == 3 -> mutation at position 16, unambiguous
    assert r1["matched_custkey"] == 99999 and r1["lev"] == 1
    assert r1["n_candidates"] == 1


def test_kmeans_assign_update_exact():
    """_assign picks the true nearest centroid with exact integer
    distances (cluster-id tie-break) and _update produces the exact
    floor-mean centroid."""
    from pyspark.sql import SparkSession

    from incubyte_vaccination_data_pipeline_spark.catalog.clustering import _assign, _update

    spark = SparkSession.getActiveSession()
    qcomp = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 0), (2, 1, 12), (2, 2, 12), (3, 1, 5), (3, 2, 5)],
        "vec_id bigint, pos int, q bigint",
    )
    cent = spark.createDataFrame(
        [(0, 1, 0), (0, 2, 0), (1, 1, 10), (1, 2, 10)],
        "cluster bigint, pos int, c bigint",
    )
    a = {r["vec_id"]: r for r in _assign(qcomp, cent).collect()}
    assert (a[1]["cluster"], a[1]["d"]) == (0, 0)
    assert (a[2]["cluster"], a[2]["d"]) == (1, 8)
    # vec 3 is equidistant (50 vs 50): tie-break -> cluster 0
    assert (a[3]["cluster"], a[3]["d"]) == (0, 50)
    assign = _assign(qcomp, cent)
    cent2 = {
        (r["cluster"], r["pos"]): r["c"] for r in _update(qcomp, assign).collect()
    }
    # cluster 0 members: vec 1 (0) and vec 3 (5) -> floor(5/2) = 2
    assert cent2[(0, 1)] == 2 and cent2[(0, 2)] == 2
    assert cent2[(1, 1)] == 12 and cent2[(1, 2)] == 12


def test_pit_features_exclude_same_day_and_stale(spark, seed_table, tmp_path):
    """Trailing-90d features see a 30-day-old order, exclude a
    100-day-old one, and exclude same-day siblings (leakage rule)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.features import pit_trailing_features

    d = dt.date
    rows = [
        (1, 1, d(2020, 1, 1), 100.0),    # base
        (2, 1, d(2020, 1, 31), 50.0),    # 30d later: sees order 1
        (3, 1, d(2020, 5, 10), 25.0),    # 100d after order 2: sees nothing
        (4, 2, d(2020, 3, 1), 10.0),     # same-day siblings
        (5, 2, d(2020, 3, 1), 20.0),
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderdate date,"
        " o_totalprice double",
    )
    seed_table(str(tmp_path), "orders", orders)
    out = {
        r["o_orderkey"]: r
        for r in pit_trailing_features(spark, str(tmp_path)).collect()
    }
    assert out[1]["feat_orders_90d"] == 0 and out[1]["feat_spend_90d"] == 0.0
    assert out[2]["feat_orders_90d"] == 1 and out[2]["feat_spend_90d"] == 100.0
    assert out[3]["feat_orders_90d"] == 0  # both prior orders out of range
    # same-day siblings must not see each other (strictly-preceding day)
    assert out[4]["feat_orders_90d"] == 0 and out[5]["feat_orders_90d"] == 0


def test_anomaly_zscore_flags_spike_only(spark, seed_table, tmp_path):
    """Six flat days + one spike: only the spike day is anomalous; a
    constant-valued user gets NULL z (zero variance)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        events_anomaly_zscore,
    )

    rows = []
    eid = 0
    for day in range(1, 7):  # user 1: six days of 1.00
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, day, 12), 1, "view", 1.0, "{}"))
    eid += 1
    rows.append((eid, dt.datetime(2024, 1, 7, 12), 1, "view", 100.0, "{}"))
    for day in range(1, 6):  # user 2: five constant days -> zero variance
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, day, 12), 2, "view", 5.0, "{}"))
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    out = {
        (r["user_id"], r["day"]): r
        for r in events_anomaly_zscore(spark, str(tmp_path)).collect()
    }
    spike = out[(1, dt.date(2024, 1, 7))]
    assert spike["is_anomaly"] and spike["z"] > 2
    flat_days = [out[(1, dt.date(2024, 1, d))] for d in range(1, 7)]
    assert not any(r["is_anomaly"] for r in flat_days)
    # python reference for the spike z-score (exact integer moments)
    import math

    xs = [100] * 6 + [10000]  # cents
    n, s1, s2 = len(xs), sum(xs), sum(x * x for x in xs)
    z_ref = round((10000 - s1 / n) / math.sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)
    assert spike["z"] == z_ref
    for d in range(1, 6):
        r = out[(2, dt.date(2024, 1, d))]
        assert r["z"] is None and not r["is_anomaly"]


def test_incremental_ingest_counts_only_post_watermark(spark, seed_table, tmp_path):
    """Watermark = trunc(max ts) - 7d: only newer rows aggregate."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        incremental_watermark_ingest,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), 1, "view", 1.0, "{}"),    # ancient
        (2, dt.datetime(2024, 1, 23, 0, 1), 1, "view", 2.0, "{}"),  # just inside
        (3, dt.datetime(2024, 1, 29, 5), 1, "view", 4.0, "{}"),
        (4, dt.datetime(2024, 1, 30, 9), 1, "click", 8.0, "{}"),   # max ts
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    out = {
        r["event_type"]: r
        for r in incremental_watermark_ingest(spark, str(tmp_path)).collect()
    }
    # watermark = 2024-01-30 00:00 - 7d = 2024-01-23 00:00 (exclusive)
    assert out["view"]["n_new_events"] == 2  # events 2 and 3; event 1 too old
    assert out["view"]["sum_value"] == 6.0
    assert out["click"]["n_new_events"] == 1
    assert out["click"]["new_watermark"] == dt.datetime(2024, 1, 30, 9)


def test_markov_hand_computed(spark, seed_table, tmp_path):
    """Sequence a,b,a,b for one user: _START->a 1.0, a->b 1.0,
    b->a p=0.5 (one of two b-transitions leads to a)."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        events_markov_transitions,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "a", 0.0, "{}"),
        (2, t(1), 1, "b", 0.0, "{}"),
        (3, t(2), 1, "a", 0.0, "{}"),
        (4, t(3), 1, "b", 0.0, "{}"),
        (5, t(4), 1, "b", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    seed_table(str(tmp_path), "events", events)
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in events_markov_transitions(spark, str(tmp_path)).collect()
    }
    assert out[("_START", "a")]["p"] == 1.0
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p"] == 1.0
    assert out[("b", "a")]["p"] == 0.5 and out[("b", "b")]["p"] == 0.5


def test_pca_direction_matches_numpy(spark, sf_dir):
    """The integer power iteration must (a) track a float numpy
    implementation of the SAME two iterations to |cosine| > 0.999
    (quantization/rescale noise only), and (b) strictly increase the
    Rayleigh quotient over the uniform start — monotone progress
    toward the dominant eigenvector. (The synthetic embeddings are
    near-isotropic, λ2/λ1 ≈ 0.93, so full convergence in two
    iterations is mathematically impossible for ANY implementation;
    the oracle already pins cross-engine bit-equality.)"""
    import numpy as np

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    rows = QUERIES["embedding_pca_power_iteration"](spark, sf_dir).collect()
    v = np.array([r["component"] for r in sorted(rows, key=lambda r: r["pos"])],
                 dtype=np.float64)
    emb = np.array(
        [r["embedding"] for r in
         spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("embedding").collect()],
        dtype=np.float64,
    )
    x = np.floor(emb * (1 << 20))
    x = x - np.floor(x.sum(axis=0) / len(x))
    # float reference of the same two v -> X^T(Xv) iterations
    ref = np.ones(64)
    for _ in range(2):
        ref = x.T @ (x @ ref)
        ref /= np.abs(ref).max()
    cos = abs(v @ ref) / (np.linalg.norm(v) * np.linalg.norm(ref))
    assert cos > 0.999, f"cosine to float two-iteration reference {cos:.5f}"

    def rayleigh(u):
        xu = x @ u
        return (xu @ xu) / (u @ u)

    assert rayleigh(v) > rayleigh(np.ones(64)), (
        "power iteration must increase the Rayleigh quotient"
    )


def test_bloom_filter_no_false_negatives_and_prunes(spark, sf_dir):
    """Bloom semi-join reduction invariants: (1) every true-matching
    fact row passes the filter (no false negatives — the property the
    oracle's plain-join restatement relies on); (2) the filter
    actually prunes (passes well under the full fact count); (3) the
    bitmap collect is fixed-size metadata."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.bloom import (
        BLOOM_WORDS,
        build_bloom_words,
        might_contain_expr,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    cust = (
        read_table(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000))
        .select("c_custkey")
    )
    words = build_bloom_words(cust, "c_custkey")
    assert len(words) == BLOOM_WORDS
    orders = read_table(spark, sf_dir, "orders")
    passed = orders.filter(might_contain_expr("o_custkey", words))
    true_rows = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    )
    n_total = orders.count()
    n_pass, n_true = passed.count(), true_rows.count()
    # superset: a true match never fails the bloom
    assert true_rows.join(
        passed.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count() == 0
    assert n_true <= n_pass
    # effectiveness: the whole point is pruning before the exchange
    assert n_pass < 0.5 * n_total, (n_pass, n_total)
    # false-positive rate within an order of magnitude of theory
    fp = (n_pass - n_true) / max(1, n_total - n_true)
    assert fp < 0.05, fp


def test_zorder_bounds_both_dimensions(spark, sf_dir):
    """The point of Z-ORDER: each planned file's zone map is tight on
    BOTH clustering dimensions (so a predicate on either prunes
    files), while the naive date-linear layout leaves the customer
    dimension unpruned (every file spans ~the full key range). Also:
    both layouts partition all rows."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    rows = QUERIES["layout_zorder_zonemap"](spark, sf_dir).collect()
    zs = [r for r in rows if r["layout"] == "zorder"]
    ls = [r for r in rows if r["layout"] == "linear"]
    n_orders = read_table(spark, sf_dir, "orders").count()
    assert sum(r["n_rows"] for r in zs) == n_orders
    assert sum(r["n_rows"] for r in ls) == n_orders
    z_ck = sum(r["custkey_span"] for r in zs) / len(zs)
    l_ck = sum(r["custkey_span"] for r in ls) / len(ls)
    # linear layout: every file spans ~the whole customer range;
    # z-order bounds it to a fraction (2 prefix bits per dim -> ~1/4)
    assert z_ck < 0.5 * l_ck, (z_ck, l_ck)
    # ... while still bounding the date dimension well under its full
    # range (the multi-dimensional tradeoff both-ways)
    full_dt = max(r["max_date"] for r in rows if r["layout"] == "linear")
    min_dt = min(r["min_date"] for r in rows if r["layout"] == "linear")
    full_span = (full_dt - min_dt).days
    z_dt = sum(r["date_span_days"] for r in zs) / len(zs)
    assert z_dt < 0.8 * full_span, (z_dt, full_span)


def test_connected_components_doubling_beats_linear_diameter(spark):
    """A 60-node path has diameter 59: one-hop min-propagation cannot
    converge in <= 12 rounds, pointer doubling must (and label every
    node with the path's minimum id). Two separate components prove
    labels do not bleed across components."""
    from incubyte_vaccination_data_pipeline_spark.operators.components import (
        connected_components,
    )

    path = [(i, i + 1) for i in range(100, 159)]          # 60-node path
    other = [(1000, 1001), (1001, 1002)]                  # separate tri-path
    edges = spark.createDataFrame(path + other, "src bigint, dst bigint")
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges, max_rounds=12).collect()
    }
    assert all(got[n] == 100 for n in range(100, 160))
    assert all(got[n] == 1000 for n in (1000, 1001, 1002))


def test_connected_components_raises_when_rounds_exhausted(spark):
    """Exhausting max_rounds with labels still moving must raise, not
    return split components."""
    import pytest

    from incubyte_vaccination_data_pipeline_spark.operators.components import (
        ComponentsNotConverged,
        connected_components,
    )

    path = [(i, i + 1) for i in range(100, 159)]
    edges = spark.createDataFrame(path, "src bigint, dst bigint")
    with pytest.raises(ComponentsNotConverged):
        connected_components(edges, max_rounds=3)


def test_interval_align_tiles_timeline(spark, sf_dir):
    """The aligned segments must TILE each customer's shared timeline:
    sorted by valid_from, every segment's valid_to equals the next
    segment's valid_from (no gap, no double-cover), exactly one open
    (is_current) segment per customer, and the segment count is
    k1 + k2 - 1 for tiling inputs."""
    import collections

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    rows = QUERIES["scd2_interval_align"](spark, sf_dir).collect()
    by_cust = collections.defaultdict(list)
    for r in rows:
        by_cust[r["cust_i"]].append(r)
    assert by_cust
    for cust, segs in by_cust.items():
        segs.sort(key=lambda r: r["valid_from"])
        opens = [s for s in segs if s["valid_to"] is None]
        assert len(opens) == 1, (cust, len(opens))
        assert segs[-1]["valid_to"] is None
        for a, b in zip(segs, segs[1:]):
            assert a["valid_to"] == b["valid_from"], (cust, a, b)
        k1 = len({(s["priority"], s["valid_from"]) for s in segs})  # upper bound sanity
        assert len(segs) >= 1 and k1 >= 1


def test_connected_components_fuzz_vs_union_find(spark):
    """Randomized graphs vs an independent driver-side union-find:
    identical component partitions (same min-id labeling) on every
    seed — including disconnected singleton-free edge soups with
    cycles, self-loops and duplicate edges."""
    import random

    from incubyte_vaccination_data_pipeline_spark.operators.components import (
        connected_components,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(60, 140))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expected = {v: find(v) for v in touched}
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {
            r["node"]: r["component_id"]
            for r in connected_components(df, max_rounds=12).collect()
        }
        assert got == expected, f"seed {seed}"


def test_bloom_no_false_negatives_fuzz(spark):
    """Property fuzz: for random key sets, EVERY inserted key passes
    might_contain (the invariant the oracle's plain-join restatement
    rests on), across salts."""
    import random

    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.bloom import (
        build_bloom_words,
        might_contain_expr,
    )

    for seed, salt in ((3, "bloom-v1"), (41, "fuzz-salt")):
        rng = random.Random(seed)
        keys = sorted({rng.randrange(10**9) for _ in range(500)})
        dim = spark.createDataFrame([(k,) for k in keys], "k bigint")
        words = build_bloom_words(dim, "k", salt)
        missed = dim.filter(~might_contain_expr("k", words, salt)).count()
        assert missed == 0, f"seed {seed}: {missed} false negatives"


def test_audience_overlap_matches_pandas_set_ops(spark, sf_dir):
    """Third-implementation check: the bitmap algebra's cardinalities
    must equal plain Python set ops over the raw parquet (independent
    of both the Spark bitwise path and the DuckDB INTERSECT oracle)."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet",
                             columns=["o_custkey", "o_orderdate"])
    yr = pd.to_datetime(orders["o_orderdate"]).dt.year
    a = set(orders.loc[yr == 1996, "o_custkey"])
    b = set(orders.loc[yr == 1997, "o_custkey"])
    row = QUERIES["set_bitmap_audience_overlap"](spark, sf_dir).collect()[0]
    assert row["n_1996"] == len(a)
    assert row["n_1997"] == len(b)
    assert row["n_both"] == len(a & b)
    assert row["n_either"] == len(a | b)
    assert row["n_only_1996"] == len(a - b)
    assert row["n_only_1997"] == len(b - a)


def test_dp_noise_matches_independent_hashlib_math(spark, sf_dir):
    """The Laplace draw must replay from Python hashlib + math.log —
    an implementation sharing no code with either Spark's md5/ln or
    the DuckDB oracle. Also pins the mechanism invariants: |noise|
    follows Exp(1/b) (so the 6dp magnitude is b*ln of a rational) and
    u is never exactly 1/2 by construction."""
    import hashlib
    import math

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    rows = QUERIES["quality_dp_noisy_release"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        bucket = int(
            hashlib.md5(f"dp-v1{r['o_orderpriority']}".encode()).hexdigest()[:4], 16
        )
        u = (bucket + 0.5) / 65536.0
        assert u != 0.5
        expect = -2.0 * math.copysign(1.0, u - 0.5) * math.log(1 - 2 * abs(u - 0.5))
        assert abs(r["noise"] - round(expect, 6)) < 1e-9, r["o_orderpriority"]
        assert abs(r["noisy_count"] - round(r["n_true"] + expect, 6)) < 1e-9


def test_scd2_merge_invariants(spark, sf_dir):
    """Post-merge dimension invariants: every customer has exactly one
    current row; affected customers' current row is the escalated
    version (priority X-ESCALATED, effective_from = the change ts,
    version = prior max + 1) and their previous current row closed at
    the change ts; unaffected customers' rows pass through untouched."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    merged = QUERIES["incremental_scd2_merge"](spark, sf_dir).toPandas()
    base = QUERIES["scd2_priority_history"](spark, sf_dir).toPandas()
    ts = pd.Timestamp("2002-01-01")

    cur = merged[merged["is_current"]]
    assert cur.groupby("cust_i").size().eq(1).all()

    aff = merged[merged["cust_i"] % 37 == 0]
    base_aff = base[base["cust_i"] % 37 == 0]
    assert len(aff) == len(base_aff) + base_aff["cust_i"].nunique()
    aff_cur = aff[aff["is_current"]]
    assert (aff_cur["priority"] == "X-ESCALATED").all()
    assert (aff_cur["effective_from"] == ts).all()
    prior_max = base_aff.groupby("cust_i")["version"].max()
    assert aff_cur.set_index("cust_i")["version"].sort_index().eq(
        prior_max.sort_index() + 1
    ).all()
    closed = aff[(~aff["is_current"]) & (aff["effective_to"] == ts)]
    assert len(closed) == base_aff["cust_i"].nunique()

    unaff = merged[merged["cust_i"] % 37 != 0].sort_values(
        ["cust_i", "version"], ignore_index=True
    )
    base_unaff = base[base["cust_i"] % 37 != 0].sort_values(
        ["cust_i", "version"], ignore_index=True
    )
    pd.testing.assert_frame_equal(unaff, base_unaff[unaff.columns])


def test_pareto_abc_invariants(spark, sf_dir):
    """ABC classification invariants, checked independently in pandas:
    cumsum follows the revenue-desc/customer-asc total order exactly;
    classes are contiguous A-then-B-then-C along that order; the A
    set is the minimal prefix covering 50% of revenue."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    df = (
        QUERIES["orders_pareto_abc"](spark, sf_dir)
        .toPandas()
        .sort_values(["rev_cents", "cust_i"], ascending=[False, True],
                     ignore_index=True)
    )
    assert (df["cum_cents"] == df["rev_cents"].cumsum()).all()
    total = df["rev_cents"].sum()
    assert df["cum_cents"].iloc[-1] == total
    order = {"A": 0, "B": 1, "C": 2}
    ranks = df["abc_class"].map(order)
    assert (ranks.diff().dropna() >= 0).all(), "classes must be contiguous"
    a = df[df["abc_class"] == "A"]
    assert a["cum_cents"].iloc[-1] * 10 <= total * 5
    nxt = df["cum_cents"].iloc[len(a)]
    assert nxt * 10 > total * 5, "A must be the minimal 50% prefix"


def test_ses_smoothing_matches_numpy_recursion(spark, sf_dir):
    """Third implementation: replay the SES recursion in plain
    numpy/pandas from the raw parquet and require bit-level equality
    BEFORE rounding semantics can hide drift (6dp compare here, but
    the recursion is pure IEEE double on both sides)."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_ses_smoothing"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "ts", "value"])
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    daily = (ev.groupby(["event_type", "day"], as_index=False)["cents"].sum()
             .sort_values(["event_type", "day"], ignore_index=True))
    expect = {}
    for et, g in daily.groupby("event_type"):
        level = None
        for _, r in g.iterrows():
            v = float(r["cents"])
            level = v if level is None else 0.2 * v + 0.8 * level
            expect[(et, r["day"])] = round(level, 6)
    assert len(got) == len(expect)
    for r in got.itertuples():
        assert abs(expect[(r.event_type, pd.Timestamp(r.day))] - r.ses) < 1e-9


def test_equiheight_histogram_properties(spark, sf_dir):
    """Equi-height + disjoint-range invariants: bucket ids dense 0..7,
    counts differ by at most 1, value ranges non-overlapping in bucket
    order, and totals/ndv reconcile with the raw column."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = (
        QUERIES["stats_equiheight_histogram"](spark, sf_dir)
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    assert list(got["bucket"]) == list(range(8))
    assert got["n_rows"].max() - got["n_rows"].min() <= 1
    for i in range(7):
        assert got["hi_cents"][i] <= got["lo_cents"][i + 1]
    raw = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    cents = (raw["o_totalprice"] * 100).round().astype("int64")
    assert got["n_rows"].sum() == len(cents)
    assert got["lo_cents"][0] == cents.min()
    assert got["hi_cents"][7] == cents.max()


def test_multitouch_attribution_matches_pair_replay(spark, sf_dir):
    """Third implementation: replay the naive (click x purchase) pair
    semantics in pandas and require identical per-click credit."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = (
        QUERIES["events_attribution_multitouch"](spark, sf_dir)
        .toPandas()
        .sort_values("click_id", ignore_index=True)
    )
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "ts", "event_type", "value"],
    )
    ev = ev[ev["event_type"].isin(["click", "purchase"])].copy()
    ev["ts_s"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64") // 10**9
    )
    clicks = ev[ev["event_type"] == "click"]
    purch = ev[ev["event_type"] == "purchase"].copy()
    purch["cents"] = (purch["value"] * 100).round().astype("int64")
    credit: dict[int, list] = {}
    for u, pg in purch.groupby("user_id"):
        cg = clicks[clicks["user_id"] == u]
        for p in pg.itertuples():
            inwin = cg[(cg["ts_s"] >= p.ts_s - 7 * 86400) & (cg["ts_s"] <= p.ts_s - 1)]
            n = len(inwin)
            if n == 0:
                continue
            each = (p.cents * 1_000_000) // n
            for cid in inwin["event_id"]:
                agg = credit.setdefault(int(cid), [0, 0])
                agg[0] += 1
                agg[1] += each
    assert len(got) == len(credit)
    for r in got.itertuples():
        n, c = credit[int(r.click_id)]
        assert r.n_purchases == n and r.credit_microcents == c


def test_bpe_apply_merge_matches_python_replay(spark, sf_dir):
    """Third implementation: a pure-Python BPE iteration (tokenize,
    count pairs, pick (max count, lexicographic) merge, str.replace —
    the same greedy left-to-right non-overlapping application — and
    recount) must produce the identical top-20."""
    from collections import Counter

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["text_bpe_apply_merge"](spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    wc = Counter()
    for t in docs["text"]:
        for w in t.strip().lower().split():
            if len(w) >= 2 and "\x01" not in w:
                wc[w] += 1
    p1 = Counter()
    for w, n in wc.items():
        for i in range(len(w) - 1):
            p1[w[i : i + 2]] += n
    mp = min(p1.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    p2 = Counter()
    for w, n in wc.items():
        mw = w.replace(mp, "\x01")
        if len(mw) < 2:
            continue
        for i in range(len(mw) - 1):
            p2[mw[i : i + 2].replace("\x01", mp)] += n
    top = sorted(p2.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert list(got["merge_applied"].unique()) == [mp]
    assert [(r.pair, r.n_occurrences) for r in got.itertuples()] == top


def test_kmv_theta_sketch_exact_mode_and_accuracy(spark, sf_dir, seed_table, tmp_path):
    """(a) Exact mode: with both segments smaller than k, every
    estimate must equal the true count (theta = full domain).
    (b) At the test SF the estimates must sit within sketch error of
    the exact audience algebra (k=64 -> RSE ~12.7%; 40% is >3 sigma)."""
    import datetime as dt2

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog.relational_ext import (
        _KMV_H,
        agg_kmv_theta_sketch,
    )
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    # (a) tiny crafted orders: 1996 buyers {1,2,3}, 1997 buyers {2,3,4,5}
    rows = [(k, dt2.date(1996, 6, 1)) for k in (1, 2, 3)] + [
        (k, dt2.date(1997, 6, 1)) for k in (2, 3, 4, 5)
    ]
    orders = spark.createDataFrame(rows, "o_custkey bigint, o_orderdate date")
    seed_table(str(tmp_path), "orders", orders)
    got = agg_kmv_theta_sketch(spark, str(tmp_path)).collect()[0]
    assert got["theta_a"] == _KMV_H and got["theta_b"] == _KMV_H
    assert got["est_1996"] == 3.0 and got["est_1997"] == 4.0
    assert got["est_union"] == 5.0 and got["est_intersect"] == 2.0
    assert got["n_retained_intersect"] == 2

    # (b) accuracy on the real corpus
    got = QUERIES["agg_kmv_theta_sketch"](spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderdate"])
    y = pd.to_datetime(o["o_orderdate"]).dt.year
    a = set(o.loc[y == 1996, "o_custkey"])
    b = set(o.loc[y == 1997, "o_custkey"])
    assert got["n_exact_1996"] == len(a) and got["n_exact_1997"] == len(b)
    for est, true in [
        (got["est_1996"], len(a)),
        (got["est_1997"], len(b)),
        (got["est_union"], len(a | b)),
        (got["est_intersect"], len(a & b)),
    ]:
        assert abs(est - true) <= 0.4 * true, (est, true)


def _half_up6(x: float) -> float:
    """Spark/DuckDB ROUND semantics (HALF_UP) — Python's round() is
    banker's and flips exact .5 boundaries the engines agree on."""
    import decimal

    # repr(x) = shortest round-trip decimal, matching the JVM's
    # BigDecimal.valueOf(double) that Spark's round() goes through
    return float(
        decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.000001"),
                                          rounding=decimal.ROUND_HALF_UP)
    )


def test_holt_linear_matches_numpy_recursion(spark, sf_dir):
    """Third implementation: replay the Holt level+trend recursion in
    plain pandas from the raw parquet (the Spark side folds a struct,
    the oracle steps a recursive CTE; this is the arbiter)."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_holt_linear"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "ts", "value"])
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    daily = (ev.groupby(["event_type", "day"], as_index=False)["cents"].sum()
             .sort_values(["event_type", "day"], ignore_index=True))
    expect = {}
    for et, g in daily.groupby("event_type"):
        l = b = None
        for _, r in g.iterrows():
            v = float(r["cents"])
            if l is None:
                l, b = v, 0.0
            else:
                ln = 0.5 * v + 0.5 * (l + b)
                b = 0.3 * (ln - l) + 0.7 * b
                l = ln
            expect[(et, r["day"])] = (_half_up6(l), _half_up6(b), _half_up6(l + b))
    assert len(got) == len(expect)
    for r in got.itertuples():
        e = expect[(r.event_type, pd.Timestamp(r.day))]
        assert (
            abs(e[0] - r.level) < 1e-9
            and abs(e[1] - r.trend) < 1e-9
            and abs(e[2] - r.forecast_next) < 1e-9
        )


def test_weighted_reservoir_matches_python_replay_and_skews_heavy(spark, sf_dir):
    """Third implementation: recompute the A-ES keys with hashlib +
    math.log and require the identical top-100; and the weighted draw
    must skew heavy (sample mean weight > population mean weight)."""
    import hashlib
    import math

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["sample_weighted_reservoir"](spark, sf_dir).toPandas()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_totalprice"])
    keys = []
    for r in o.itertuples():
        cents = int(round(r.o_totalprice * 100))
        h = hashlib.md5(f"wres-v1{r.o_orderkey}".encode()).hexdigest()
        u = (int(h[:4], 16) + 0.5) / 65536.0
        qkey = math.floor(math.log(u) / cents * 1152921504606846976.0)
        keys.append((qkey, r.o_orderkey, cents))
    keys.sort(key=lambda t: (-t[0], t[1]))
    top = keys[:100]
    assert [(r.qkey, r.o_orderkey, r.cents) for r in got.itertuples()] == top
    assert got["cents"].mean() > o["o_totalprice"].mean() * 100


def test_association_rules_match_python_replay(spark, sf_dir):
    """Third implementation: Apriori-style pair scoring in pure Python
    over the distinct baskets must reproduce the identical top-100
    (counts AND the 6dp ratio columns)."""
    from collections import Counter
    from itertools import combinations

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["basket_association_rules"](spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"]).drop_duplicates()
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(sorted)
    n_baskets = len(baskets)
    item = Counter(li["l_partkey"])
    pair = Counter()
    for parts in baskets:
        pair.update(combinations(parts, 2))
    rules = []
    for (a, b), nab in pair.items():
        if nab < 2:
            continue
        lift = _half_up6(nab * float(n_baskets) / (item[a] * float(item[b])))
        rules.append((-lift, a, b, nab, item[a], item[b],
                      _half_up6(nab / float(n_baskets)),
                      _half_up6(nab / float(item[a])),
                      _half_up6(nab / float(item[b]))))
    rules.sort()
    top = rules[:100]
    assert len(got) == len(top)
    for r, e in zip(got.itertuples(), top):
        assert (r.part_a, r.part_b, r.n_ab, r.n_a, r.n_b) == (e[1], e[2], e[3], e[4], e[5])
        assert (r.support, r.conf_a_to_b, r.conf_b_to_a, r.lift) == (e[6], e[7], e[8], -e[0])


def test_window_funnel_matches_python_state_machine(spark, sf_dir):
    """Third implementation: replay the windowFunnel state machine in
    pure Python (latest step-1 anchor, in-window anchor carry) and
    require identical per-user levels."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_window_funnel"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "user_id", "ts", "event_type"])
    ev = ev[ev["event_type"].isin(["view", "click", "purchase"])].copy()
    ev["ts_s"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64") // 10**9
    )
    ev["lvl"] = ev["event_type"].map({"view": 0, "click": 1, "purchase": 2})
    expect = {}
    for u, g in ev.groupby("user_id"):
        t = [-1, -1, -1]
        for r in g.sort_values(["ts_s", "event_id"]).itertuples():
            if r.lvl == 0:
                t[0] = r.ts_s
            elif r.lvl == 1 and t[0] != -1 and r.ts_s - t[0] <= 86400:
                t[1] = t[0]
            elif r.lvl == 2 and t[1] != -1 and r.ts_s - t[1] <= 86400:
                t[2] = t[1]
        expect[u] = (len(g), 3 if t[2] != -1 else 2 if t[1] != -1
                     else 1 if t[0] != -1 else 0)
    assert len(got) == len(expect)
    for r in got.itertuples():
        assert expect[r.user_id] == (r.n_funnel_events, r.funnel_level)


def test_mad_outliers_match_python_replay(spark, sf_dir):
    """Third implementation: numpy lower-middle medians + 5*MAD flag
    must reproduce the identical outlier set."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_anomaly_mad"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    ev["cents"] = (ev["value"] * 100).round().astype("int64")

    def lower_middle(s):
        s = s.sort_values(ignore_index=True)
        return int(s[(len(s) + (len(s) % 2)) // 2 - 1])

    expect = set()
    for et, g in ev.groupby("event_type"):
        med = lower_middle(g["cents"])
        adev = (g["cents"] - med).abs()
        mad = lower_middle(adev)
        for eid in g.loc[adev > 5 * mad, "event_id"]:
            expect.add((int(eid), et))
    assert {(int(r.event_id), r.event_type) for r in got.itertuples()} == expect


def test_survival_retention_matches_python_km(spark, sf_dir):
    """Third implementation: a pure-Python Kaplan-Meier with the same
    censoring rule must reproduce every (at-risk, churned, censored,
    survival) row; survival must be non-increasing and match the
    product-limit definition."""
    from collections import Counter

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = (
        QUERIES["orders_survival_retention"](spark, sf_dir)
        .toPandas()
        .sort_values("k", ignore_index=True)
    )
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderdate"])
    d = pd.to_datetime(o["o_orderdate"])
    o["mi"] = d.dt.year * 12 + d.dt.month
    per = o.groupby("o_custkey")["mi"].agg(["min", "max"])
    gmax = per["max"].max()
    deaths, cens = Counter(), Counter()
    for _, r in per.iterrows():
        k = int(r["max"] - r["min"])
        (cens if gmax - r["max"] <= 3 else deaths)[k] += 1
    ks = sorted(set(deaths) | set(cens))
    total = len(per)
    seen = 0
    s = 1.0
    expect = {}
    for k in ks:
        n_at_risk = total - seen
        s = s * (1.0 - deaths[k] / float(n_at_risk))
        expect[k] = (n_at_risk, deaths[k], cens[k], _half_up6(s))
        seen += deaths[k] + cens[k]
    assert len(got) == len(expect)
    prev = 1.0
    for r in got.itertuples():
        e = expect[r.k]
        assert (r.n_at_risk, r.churned, r.censored) == e[:3]
        assert abs(r.survival - e[3]) < 1e-9
        assert r.survival <= prev + 1e-12
        prev = r.survival


def test_autocorrelation_matches_numpy(spark, sf_dir):
    """Third implementation: numpy ACF (same estimator: demeaned lag
    products over the full-series variance) must agree to 1e-9 before
    rounding can hide anything."""
    import numpy as np
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_autocorrelation"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "ts", "value"])
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    daily = (ev.groupby(["event_type", "day"])["cents"].sum()
             .reset_index().sort_values(["event_type", "day"]))
    for r in got.itertuples():
        y = daily.loc[daily["event_type"] == r.event_type, "cents"].to_numpy(float)
        m = y.mean()
        k = int(r.lag)
        expect = ((y[:-k] - m) * (y[k:] - m)).sum() / ((y - m) ** 2).sum()
        assert abs(expect - r.acf) < 1e-6, (r.event_type, k, expect, r.acf)


def test_benford_matches_python_replay(spark, sf_dir):
    """Third implementation: collections.Counter first digits +
    math.log10 expectations reproduce every row."""
    import math
    from collections import Counter

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["quality_benford_check"](spark, sf_dir).toPandas()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    digits = Counter(str(int(round(v * 100)))[0] for v in o["o_totalprice"])
    n = sum(digits.values())
    assert len(got) == len(digits)
    for r in got.itertuples():
        obs = digits[str(r.digit)]
        p = math.log10(1.0 + 1.0 / r.digit)
        assert r.n_obs == obs
        assert abs(r.p_expected - p) < 1e-6
        assert abs(r.chi2_contribution - (obs - n * p) ** 2 / (n * p)) < 1e-4


def test_cusum_changepoint_detects_injected_step(spark, sf_dir, seed_table, tmp_path):
    """Hand-crafted series: 10 days at 100 cents then 10 days at
    10000 cents -- CUSUM must locate the boundary (day 10), and the
    real corpus run must match a numpy argmax replay."""
    import datetime as dt2

    import numpy as np
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        events_changepoint_cusum,
    )
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    rows = []
    eid = 0
    for i in range(20):
        eid += 1
        rows.append((eid, 1, dt2.datetime(2024, 1, 1 + i, 12, 0, 0), "click",
                     1.00 if i < 10 else 100.00))
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp,"
        " event_type string, value double"
    )
    seed_table(str(tmp_path), "events", ev)
    out = events_changepoint_cusum(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["t_index"] == 10
    assert pd.Timestamp(out[0]["changepoint_day"]) == pd.Timestamp("2024-01-10")

    got = QUERIES["events_changepoint_cusum"](spark, sf_dir).toPandas()
    raw = pd.read_parquet(f"{sf_dir}/events.parquet",
                          columns=["event_type", "ts", "value"])
    raw["day"] = pd.to_datetime(raw["ts"]).dt.floor("D")
    raw["cents"] = (raw["value"] * 100).round().astype("int64")
    daily = (raw.groupby(["event_type", "day"])["cents"].sum()
             .reset_index().sort_values(["event_type", "day"]))
    for r in got.itertuples():
        y = daily.loc[daily["event_type"] == r.event_type, "cents"].to_numpy("int64")
        n = len(y)
        s = n * np.cumsum(y) - np.arange(1, n + 1, dtype="int64") * y.sum()
        t = int(np.argmax(np.abs(s))) + 1  # numpy argmax = earliest tie
        assert (r.t_index, r.cusum_scaled, r.n_days) == (t, abs(s[t - 1]), n)


def test_link_prediction_matches_python_replay(spark, sf_dir):
    """Third implementation: networkx-free Python Jaccard over the
    same thresholded co-purchase graph reproduces the top-50."""
    from collections import Counter, defaultdict
    from itertools import combinations

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["graph_link_prediction"](spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    pair = Counter()
    for _, g in li.groupby("l_orderkey"):
        for a, b in combinations(sorted(g["l_partkey"]), 2):
            if a < b:
                pair[(a, b)] += 1
    edges = {p for p, n in pair.items() if n >= 2}
    nbr = defaultdict(set)
    for a, b in edges:
        nbr[a].add(b)
        nbr[b].add(a)
    rows = []
    nodes = sorted(nbr)
    seen = set()
    for x in nodes:
        for a, b in combinations(sorted(nbr[x]), 2):
            if (a, b) in edges or (a, b) in seen:
                continue
            seen.add((a, b))
            c = len(nbr[a] & nbr[b])
            j = _half_up6(c / float(len(nbr[a]) + len(nbr[b]) - c))
            rows.append((-j, a, b, c, len(nbr[a]), len(nbr[b])))
    rows.sort()
    top = rows[:50]
    assert len(got) == len(top)
    for r, e in zip(got.itertuples(), top):
        assert (r.part_a, r.part_b, r.common, r.deg_a, r.deg_b, r.jaccard) == (
            e[1], e[2], e[3], e[4], e[5], -e[0]
        )


def test_top_paths_matches_python_replay(spark, sf_dir):
    """Third implementation: per-user sorted triples via pandas."""
    from collections import Counter

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_top_paths"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "user_id", "ts", "event_type"])
    paths = Counter()
    for _, g in ev.groupby("user_id"):
        ts = g.sort_values(["ts", "event_id"])["event_type"].tolist()
        for i in range(len(ts) - 2):
            paths[">".join(ts[i:i + 3])] += 1
    top = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r.path, r.n_occurrences) for r in got.itertuples()] == top


def test_bot_signals_match_python_replay(spark, sf_dir):
    """Third implementation: pandas per-user rate / diversity /
    IAT-variance profile reproduces every row."""
    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["events_bot_signals"](spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "user_id", "ts", "event_type"])
    ev["ts_s"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64") // 10**9
    )
    expect = {}
    for u, g in ev.groupby("user_id"):
        g = g.sort_values(["ts_s", "event_id"])
        if len(g) < 2:
            continue
        iat = g["ts_s"].diff().dropna()
        n = len(iat)
        span = int(g["ts_s"].max() - g["ts_s"].min())
        eph = _half_up6(len(g) * 3600.0 / float(span + 1))
        var_n2 = int(n * int((iat ** 2).sum()) - int(iat.sum()) ** 2)
        hits = (int(eph > 10.0)
                + int(g["event_type"].nunique() == 1 and len(g) >= 10)
                + int(n >= 10 and var_n2 < 3600 * n * n))
        expect[u] = (len(g), span, g["event_type"].nunique(), eph, var_n2, hits)
    assert len(got) == len(expect)
    for r in got.itertuples():
        e = expect[r.user_id]
        assert (r.n_events, r.span_s, r.n_types) == e[:3]
        assert abs(r.events_per_hour - e[3]) < 1e-6
        assert r.iat_var_n2 == e[4]
        assert r.rule_hits == e[5]


def test_zipf_fit_matches_python_replay(spark, sf_dir):
    """Third implementation: pure-Python quantized
    log-log regression; slope/intercept/r2 to 1e-4 (floor-quantized
    logs can flip one ulp at bin edges)."""
    import math
    from collections import Counter

    import pandas as pd

    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    got = QUERIES["text_zipf_fit"](spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    vocab = Counter()
    for t in docs["text"]:
        for w in t.strip().lower().split():
            if w:
                vocab[w] += 1
    top = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    xs = [math.floor(math.log(i + 1) * 1048576.0) for i in range(len(top))]
    ys = [math.floor(math.log(n) * 1048576.0) for _, n in top]
    k = float(len(top))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    sxx, syy = float(sum(x * x for x in xs)), float(sum(y * y for y in ys))
    num, denx, deny = k * sxy - sx * sy, k * sxx - sx * sx, k * syy - sy * sy
    assert got["n_tokens_fit"] == len(top)
    assert abs(got["slope"] - num / denx) < 1e-4
    assert abs(got["intercept"] - (sy - num / denx * sx) / k / 1048576.0) < 1e-4
    assert abs(got["r2"] - num * num / (denx * deny)) < 1e-4
    # the synthetic corpus is non-Zipfian and the detector must say so
    assert got["r2"] < 0.5
