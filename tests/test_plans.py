"""Plan-shape guards: the 100 TB posture, asserted on .explain output.

Correctness tests prove the operators compute the right rows; these
prove Catalyst produces the plan we designed for — filters reach the
parquet scan, small dims broadcast, candidate joins stay equi-joins
(never cartesian), and codegen actually compiles (SURVEY.md §4, §7.3).
A regression here usually means an operator silently degraded to a
plan that would not survive a 100x scale-up.
"""

from __future__ import annotations

import re

from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_projection_pushed_to_scan(spark, sf_dir):
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    scan = plan[plan.index("Scan parquet") :]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan or re.search(
        r"PushedFilters: \[.*l_shipdate", scan
    ), "shipdate filter must reach the parquet scan"
    read = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1)
    read_cols = [c for c in read.split(",") if c]
    assert len(read_cols) <= 7, f"column pruning failed, scan reads {read_cols}"


def test_country_filter_prunes_dimension_scan(spark, sf_dir):
    plan = _plan(QUERIES["vax_country_view"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(n_name,NATION_7\)", plan), (
        "country predicate must push through the join into the nation scan"
    )


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(QUERIES["agg_revenue_by_nation"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, (
        "nation and region joins must be broadcast, not shuffled"
    )
    assert "CartesianProduct" not in plan


def test_minhash_band_join_is_equi_join(spark, sf_dir):
    # guard the operator's un-persisted plan: the catalog query returns
    # the shared persisted frame, whose plan renders as InMemoryRelation
    from incubyte_vaccination_data_pipeline_spark.catalog.dedup import augmented_documents
    from incubyte_vaccination_data_pipeline_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(
        augmented_documents(spark, sf_dir),
        n_hashes=12, bands=4, shingle_k=3, min_est_jaccard=0.5,
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate generation must be a hash-partitioned equi-join on band
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_ngram_block_join_is_equi_join(spark, sf_dir):
    plan = _plan(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_aggregates(spark, sf_dir):
    plan = _plan(QUERIES["dedup_exact"](spark, sf_dir))
    # map-side combine: partial then final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2


def test_window_topk_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["window_topk_orders"](spark, sf_dir))
    assert plan.count("Exchange") == 1, "top-k per key needs exactly one shuffle"


def test_bucketed_roundtrip_dedup_shuffle_free(spark, sf_dir):
    """The vax_bucketed_roundtrip catalog query's window must consume
    the bucketed scan's hash partitioning — no Exchange between the
    managed-table read and the dedup-latest window."""
    plan = _plan(QUERIES["vax_bucketed_roundtrip"](spark, sf_dir))
    assert "Exchange" not in plan, (
        "bucketed roundtrip dedup must be shuffle-free; got:\n" + plan
    )


def test_asof_join_single_shuffle_no_range_join(spark, sf_dir):
    plan = _plan(QUERIES["events_asof_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union + window: the only exchange is the per-key hash partition
    assert plan.count("Exchange") <= 2


def test_bucketed_table_removes_dedup_shuffle(spark, sf_dir, tmp_path):
    """SURVEY §4: bucketBy(CUST_I) makes repeated dedup-latest windows
    shuffle-free — the bucketed scan already satisfies the window's
    required HashPartitioning."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.views import dedup_latest
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
        write_bucketed_warehouse,
    )

    recs = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").cast("string").alias("CUST_I"),
            F.col("o_orderdate").cast("date").alias("CONSUL_DT"),
            F.col("o_orderkey").alias("O_KEY"),
        )
    )
    # (spark.sql.warehouse.dir is static; the managed table lands under
    # ./spark-warehouse and DROP TABLE below removes its files)
    write_bucketed_warehouse(recs, "bucketed_recs_test")
    try:
        bucketed = spark.table("bucketed_recs_test")
        deduped = dedup_latest(
            bucketed, key="CUST_I", order_col="CONSUL_DT",
            tie_breakers=[F.col("O_KEY").desc()],
        )
        plan = _plan(deduped)
        assert "Exchange" not in plan, f"bucketed dedup must not shuffle:\n{plan}"
        # and it still computes the same rows as the shuffled version
        assert deduped.count() == dedup_latest(
            recs, key="CUST_I", order_col="CONSUL_DT",
            tie_breakers=[F.col("O_KEY").desc()],
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_recs_test")


def test_date_cascade_compiles_wholestage(spark, sf_dir):
    """The parse chain must stay inside whole-stage codegen (the
    single-expression form exceeded janino's 64KB method limit and fell
    back to interpreted eval — see functions/dates.py)."""
    df = QUERIES["vax_date_cascade"](spark, sf_dir)
    # the fan-out repartition upstream means AQE wraps the plan; execute
    # this DataFrame's own query so its adaptive plan finalizes and the
    # codegen ids become visible (a noop write would execute a new plan)
    df.collect()
    plan = _plan(df)
    # '*(N)' prefixes mark operators fused into a compiled whole-stage;
    # the parse projection (the CASE WHEN cascade) must carry one
    assert re.search(r"\*\(\d+\) Project \[.*CASE WHEN", plan), (
        "date-parse projection fell out of whole-stage codegen:\n"
        + "\n".join(plan.splitlines()[:8])
    )


def test_q10_predicates_pushed_to_scans(spark, sf_dir):
    plan = _plan(QUERIES["q10_returned_items"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan), (
        "returnflag predicate must reach the lineitem scan"
    )
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, (
        "top-20 must be TakeOrderedAndProject, not a global sort"
    )


def test_q7_nation_joins_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, (
        "both nation maps must broadcast onto the fact-side probes"
    )
    assert "CartesianProduct" not in plan


def test_q19_common_predicates_extracted_to_scans(spark, sf_dir):
    """Catalyst must extract single-side implications of the OR-of-ANDs
    (brand IN (...) on part, quantity bounds on lineitem) as pushable
    pre-join filters — at 100 TB this is the difference between joining
    3 brands' rows and joining the whole fact table."""
    plan = _plan(QUERIES["q19_or_predicates"](spark, sf_dir))
    scans = plan[plan.index("Scan parquet") :]
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", scans), (
        "brand disjunction must reach the part scan"
    )
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", scans), (
        "quantity bounds must reach the lineitem scan"
    )


def test_unpivot_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["unpivot_part_measures"](spark, sf_dir))
    assert "Exchange" not in plan, "melt is a narrow transform; no shuffle"


def test_ivf_candidate_join_is_equi_join(spark, sf_dir):
    # guard the operator plan: the catalog query now embeds the
    # brute-force recall twin, whose broadcast cross join is the
    # deliberate baseline shape
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.similarity import topk_ivf
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    plan = _plan(topk_ivf(emb, queries, k=10, n_centroids=16, n_probe=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Skew mitigation must not change results: salted equi-join ==
    plain equi-join on the same keys."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.skew import salted_join
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    build = customer.withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(build, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, build, on="o_custkey", salt=8).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_q8_snowflake_broadcasts_dims_no_cartesian(spark, sf_dir):
    plan = _plan(QUERIES["q8_market_share"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, (
        "nation/region maps must broadcast onto customer and supplier"
    )


def test_q4_exists_is_semi_join(spark, sf_dir):
    plan = _plan(QUERIES["q4_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan, "EXISTS must compile to a semi join"
    assert "CartesianProduct" not in plan


def test_q21_exists_pair_is_semi_plus_anti(spark, sf_dir):
    plan = _plan(QUERIES["q21_sole_returning_supplier"](spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, (
        "EXISTS/NOT-EXISTS must compile to semi + anti joins"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_having_filter_before_semi_join(spark, sf_dir):
    plan = _plan(QUERIES["q20_supplier_part_quantity"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_plan_audit_api(spark, sf_dir):
    """plans.audit must report the same facts the string asserts above
    check: broadcasts, no cartesian, pushed filters on the scan."""
    from incubyte_vaccination_data_pipeline_spark.plans import assert_scalable, audit

    rep = audit(QUERIES["agg_revenue_by_nation"](spark, sf_dir))
    assert rep.broadcast_joins >= 2
    assert not rep.cartesian and not rep.nested_loop_joins
    assert rep.scans, "scan inventory missing"
    assert any(s.pushed_filters for s in rep.scans)

    rep2 = assert_scalable(QUERIES["q1_pricing_summary"](spark, sf_dir), max_shuffles=1)
    assert rep2.hash_aggregates >= 2  # partial + final

    # degraded plan must be caught
    import pytest as _pytest

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    with _pytest.raises(AssertionError):
        assert_scalable(n.crossJoin(r))


def test_q2_argmin_pushes_filters_and_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(p_size,25\)", plan), (
        "part-size predicate must reach the part scan"
    )
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(r_name,EUROPE\)", plan), (
        "region predicate must reach the region scan"
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_like_pushed_and_dims_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["q9_product_type_profit"](spark, sf_dir))
    assert "StringContains(p_name,widget)" in plan, (
        "LIKE predicate must push to the part scan as StringContains"
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q11_scalar_total_is_single_row_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["q11_important_stock"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(n_name,NATION_3\)", plan), (
        "nation predicate must reach the nation scan"
    )
    # the only nested-loop is the 1-row scalar-total broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_ngram_fence_intersection_evaluated_once(spark, sf_dir):
    """The rand() fence in ngram_jaccard_pairs exists solely to stop
    PushDownPredicates re-inlining the O(|A|+|B|) set intersection into
    the threshold predicate (re-evaluating it per comparison, measured
    1.7x whole-query). The fence is load-bearing on optimizer
    internals, so a Spark upgrade that re-inlines must fail HERE, not
    silently cost 1.7x: the physical plan must evaluate
    array_intersect exactly once."""
    plan = _plan(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    n = plan.count("array_intersect")
    assert n == 1, f"array_intersect appears {n}x in physical plan (fence broken)"


def test_embedding_cosine_fence_dot_fold_evaluated_once(spark, sf_dir):
    """Same fence-guard as the ngram test: the O(dim) dot-product fold
    (aggregate over zip_with) must appear exactly once in the physical
    plan — twice means the threshold filter was substituted below the
    projection and every candidate pair pays the fold twice."""
    plan = _plan(QUERIES["dedup_embedding_cosine"](spark, sf_dir))
    n = plan.count("zip_with")
    assert n == 1, f"dot-fold zip_with appears {n}x in physical plan (fence broken)"


def test_deadletter_fence_error_render_not_in_scan(spark, sf_dir):
    """dates.py gates the dead-letter error renderer behind the same
    rand() fence so the format_string cascade never becomes a
    scan-level predicate (it blew the janino 64KB codegen method limit
    when inlined). The scan's pushed/data filters must not contain the
    rendered error text machinery."""
    plan = _plan(QUERIES["vax_deadletter"](spark, sf_dir))
    for line in plan.splitlines():
        if "Scan " in line and "format_string" in line:
            raise AssertionError(
                "error renderer reached the scan node (fence broken): " + line[:200]
            )


def test_simhash_hamming_band_join_is_equi_join(spark, sf_dir):
    plan = _plan(QUERIES["dedup_simhash_hamming"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_basket_pairs_single_scan_no_join(spark, sf_dir):
    """The co-occurrence pair expansion is a single-scan groupBy +
    JVM-side array combination generator — no self-join of the fact
    table at all (was: shuffle-both-sides equi-join)."""
    plan = _plan(QUERIES["basket_part_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, "basket pairs must not self-join"
    assert plan.count("Scan parquet") == 1


def test_range_search_is_broadcast_and_shuffle_free(spark, sf_dir):
    """Radius search is a broadcast-queries x corpus scan + filter —
    at 100 TB the corpus is never shuffled for this operator."""
    plan = _plan(QUERIES["ann_cosine_range"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 0, "range search must not shuffle the corpus"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_filter_at_scan(spark, sf_dir):
    plan = _plan(QUERIES["sample_stratified_orders"](spark, sf_dir))
    assert "Exchange" not in plan, "stratified sample is a scan-side filter"


def test_funnel_stages_are_equi_joins(spark, sf_dir):
    plan = _plan(QUERIES["events_funnel_conversion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_value_trend_single_aggregation_shuffle(spark, sf_dir):
    """Regression moments are distributive: partial + final
    HashAggregate around one exchange, like any sum/count."""
    plan = _plan(QUERIES["events_value_trend"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, f"per-user moments need one keyed shuffle, saw {shuffles}"
    assert plan.count("HashAggregate") >= 2


def test_sessionization_single_shuffle(spark, sf_dir):
    """lag + cumulative-flag + per-session agg all share the user_id
    hash partitioning: exactly one keyed shuffle end-to-end."""
    plan = _plan(QUERIES["events_sessionization"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, f"sessionization needs one user_id shuffle, saw {shuffles}"


def test_retention_cohorts_two_shuffles(spark, sf_dir):
    """One explicit user_id repartition serves the distinct and the
    cohort-min window (no self-join, single events scan); the only
    other shuffle is the small (cohort, week) rollup."""
    plan = _plan(QUERIES["events_retention_cohorts"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, f"retention rollup needs <=2 shuffles, saw {shuffles}"
    assert "CartesianProduct" not in plan


def test_percent_rank_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["window_percent_rank_cume"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, "ranking window needs exactly one keyed shuffle"


def test_repetition_ratios_single_scan_two_shuffles(spark, sf_dir):
    """Unigrams and bigrams explode together from one words array:
    exactly one parquet scan, two doc-keyed shuffles, no join."""
    plan = _plan(QUERIES["text_repetition_ratios"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, "must not re-scan documents per n-gram order"
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2, f"tagged-explode rollup needs 2 shuffles, saw {shuffles}"
    assert "Join" not in plan


def test_boilerplate_ngrams_partial_distinct(spark, sf_dir):
    """countDistinct(doc_id) per gram must pre-aggregate on
    (gram, doc_id) map-side — two shuffles total, both gram-keyed."""
    plan = _plan(QUERIES["text_boilerplate_ngrams"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, f"gram aggregate needs <=2 shuffles, saw {shuffles}"
    assert plan.count("HashAggregate") >= 3, "distinct must keep its partial stage"


def test_scd2_history_single_shuffle(spark, sf_dir):
    """lag + running version sum + (cust_i, version) collapse +
    effective_to lead all reuse one cust_i hash partitioning."""
    plan = _plan(QUERIES["scd2_priority_history"](spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, f"SCD2 build needs exactly one keyed shuffle, saw {shuffles}"


def test_centroid_cosine_broadcasts_centroids(spark, sf_dir):
    """The full-width embeddings scan joins the tiny centroid frame by
    broadcast — the wide vectors themselves are never hash-shuffled."""
    plan = _plan(QUERIES["embedding_label_centroid_cosine"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "centroids (n_labels rows) must broadcast"
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, f"only (label,pos) partials may shuffle, saw {shuffles}"


def test_pagerank_iterations_reuse_checkpointed_edges(spark, sf_dir):
    """Each power iteration is contribution-join + received-sum; the
    edge/degree lineage must come from the (lazy) checkpoint, not be
    re-derived per iteration — no explode of scans per iteration."""
    plan = _plan(QUERIES["graph_pagerank_customer_supplier"](spark, sf_dir))
    # the base edge derivation scans lineitem+orders once; 3 iterations
    # + final join must not multiply those scans
    assert plan.count("Scan parquet") <= 2, "edges re-derived per iteration"
    assert "CartesianProduct" not in plan


def test_format_roundtrip_join_is_hash_join(spark, sf_dir):
    plan = _plan(QUERIES["format_roundtrip_orc_jsonl"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_profile_and_approx_distinct_avoid_expand(spark, sf_dir):
    """Both queries were rewritten off Spark's expand-based
    multi-distinct plan (row duplication through one aggregate); a
    reappearing Expand node means the dedup-first / melt shape
    regressed."""
    for name in ("profile_orders_columns", "agg_approx_count_distinct"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Expand" not in plan, f"{name} regressed to an expand plan"


def test_snapshot_diff_single_join(spark, sf_dir):
    plan = _plan(QUERIES["snapshot_diff_orders"](spark, sf_dir))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1, (
        "snapshot diff is ONE keyed full-outer join"
    )
    assert "CartesianProduct" not in plan


def test_integrity_orphan_checks_broadcast_parents(spark, sf_dir):
    plan = _plan(QUERIES["integrity_check_star_schema"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "parent key sets must broadcast"
    assert "CartesianProduct" not in plan  # the 1x1 crossJoins plan as BNLJ


def test_bigram_lm_single_pair_shuffle_then_window(spark, sf_dir):
    plan = _plan(QUERIES["text_bigram_lm_topk"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2  # pair count + context ranks
    assert "CartesianProduct" not in plan


def test_vocab_coverage_global_step_is_bounded_topk(spark, sf_dir):
    """The only global ordering is the bounded top-K (TakeOrdered or a
    K-row window), never a full-vocabulary single-partition sort."""
    plan = _plan(QUERIES["text_vocab_coverage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-K must plan as TakeOrdered"


def test_mixture_plan_single_scan(spark, sf_dir):
    """Totals come from a window over the per-source frame — a
    separate total aggregate would re-scan the corpus."""
    plan = _plan(QUERIES["corpus_mixture_plan"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, "corpus must not be scanned twice"
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 2, f"mixture plan needs <=2 shuffles, saw {shuffles}"


def test_integrity_single_scan_per_child_table(spark, sf_dir):
    """All FK edges of a child table must resolve in one scan —
    lineitem has three edges but appears once."""
    plan = _plan(QUERIES["integrity_check_star_schema"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned per edge"


def test_gapfill_single_scan_shared_daily(spark, sf_dir):
    """The daily aggregate feeds both spine and fill join through one
    checkpoint — a second events scan means the subtree duplicated."""
    plan = _plan(QUERIES["events_gapfill"](spark, sf_dir))
    assert plan.count("Scan parquet") + plan.count("events.parquet") <= 2
    assert "CartesianProduct" not in plan


def test_attribution_single_scan_single_shuffle(spark, sf_dir):
    """Last-touch attribution is one scan + one user_id shuffle; the
    event_type filter must reach the parquet scan."""
    plan = _plan(QUERIES["events_attribution_lasttouch"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 1, f"expected 1 shuffle, saw {shuffles}"
    assert "event_type" in plan[plan.index("PushedFilters") :][:200], (
        "event_type IN filter must push to the scan"
    )


def test_pii_redaction_no_shuffle_codegen(spark, sf_dir):
    """Redaction is a pure per-row projection: no exchange at all and
    fully inside whole-stage codegen."""
    plan = _plan(QUERIES["text_pii_redaction"](spark, sf_dir))
    assert "Exchange" not in plan
    # '*(n)' node prefixes mark whole-stage-codegen spans
    assert "*(1)" in plan, "redaction expressions must stay inside codegen"


def test_chunk_overlap_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["text_chunk_overlap"](spark, sf_dir))
    assert "Exchange" not in plan
    assert plan.count("Generate explode") == 1


def test_filter_funnel_single_scan_no_explode(spark, sf_dir):
    """Every rule is an array expression — the funnel must not explode
    tokens or scan twice."""
    plan = _plan(QUERIES["text_filter_funnel"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Generate explode" not in plan


def test_fuzzy_match_blocked_equi_join(spark, sf_dir):
    """Candidate generation is the masked-band equi-join — never a
    cartesian / nested-loop pair enumeration."""
    plan = _plan(QUERIES["fuzzy_match_customers"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_centroids_broadcast_no_cartesian(spark, sf_dir):
    """Centroid distance evaluation joins on the component index with
    the 8x64-row centroid side broadcast; a cartesian over vectors
    would be the n^2 failure mode."""
    plan = _plan(QUERIES["kmeans_embeddings_lloyd"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, "centroid joins must broadcast"


def test_compaction_plan_single_scan_pruned(spark, sf_dir):
    plan = _plan(QUERIES["corpus_compaction_plan"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    scan = plan[plan.index("Scan parquet") :]
    read = re.match(r"Scan parquet \[([^\]]*)\]", scan).group(1)
    assert "doc_id" not in read, "planner reads only source+text, not all columns"


def test_incremental_ingest_watermark_scan_pruned(spark, sf_dir):
    """The watermark pass may add one extra scan but it must be
    column-pruned to ts; the 1-row watermark side broadcasts."""
    plan = _plan(QUERIES["incremental_watermark_ingest"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2
    scans = [m for m in re.finditer(r"Scan parquet \[([^\]]*)\]", plan)]
    assert any(s.group(1) == "ts#" + s.group(1).split("#")[1] or
               s.group(1).startswith("ts#") for s in scans), (
        "one scan must read only the ts column for the watermark"
    )
    assert "CartesianProduct" not in plan


def test_anomaly_zscore_one_scan_two_shuffles(spark, sf_dir):
    plan = _plan(QUERIES["events_anomaly_zscore"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_pit_features_single_range_window(spark, sf_dir):
    """Point-in-time features are ONE range-frame window — a self-join
    formulation (the leakage-prone classic) would scan twice."""
    plan = _plan(QUERIES["pit_trailing_features"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RangeFrame" in plan, "trailing window must be a RANGE frame"
    assert "Join" not in plan


def test_markov_single_scan_bounded_output(spark, sf_dir):
    plan = _plan(QUERIES["events_markov_transitions"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_pca_matrix_free_no_cartesian(spark, sf_dir):
    """Power iteration must stay matrix-free: joins against the tiny
    v/w frames, never a d x d covariance build or a cartesian."""
    plan = _plan(QUERIES["embedding_pca_power_iteration"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, "v-side joins must broadcast"


def test_catalog_wide_no_cartesian_products(spark, sf_dir):
    """Blanket 100 TB guard: NO registered query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only for
    1-row scalar attachment (watermark frames, totals) — never as a
    pair generator. Catches any future operator that silently degrades
    to all-pairs."""
    offenders = []
    for name, fn in QUERIES.items():
        try:
            plan = _plan(fn(spark, sf_dir))
        except Exception as ex:  # plan build must not fail either
            offenders.append((name, f"plan build failed: {ex}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_bucketed_join_is_colocated_shuffle_free(spark, sf_dir):
    """SURVEY §4 / 100 TB posture: two tables bucketed on the join key
    join WITHOUT any Exchange — the bucketed scans already satisfy the
    join's required partitioning on both sides. This is the layout
    that turns the nightly fact-to-fact join from a corpus-wide
    shuffle into a local merge."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import (
        read_table,
        write_bucketed_warehouse,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_bucketed_warehouse(orders, "bkt_orders_test", bucket_col="o_custkey", sort_col=None)
    write_bucketed_warehouse(cust, "bkt_cust_test", bucket_col="c_custkey", sort_col=None)
    try:
        bo = spark.table("bkt_orders_test")
        bc = spark.table("bkt_cust_test")
        # disable broadcast so the join must rely on co-location, as it
        # would when both sides are fact-sized
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy(
                "o_custkey"
            ).agg(F.sum("o_totalprice").alias("spend"))
            plan = _plan(joined)
            assert "Exchange hashpartitioning" not in plan, (
                "co-bucketed join must not shuffle:\n" + plan
            )
            # sanity: same result as the unbucketed join
            n = joined.count()
            m = (
                orders.join(cust, orders.o_custkey == cust.c_custkey)
                .groupBy("o_custkey").count().count()
            )
            assert n == m
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders_test")
        spark.sql("DROP TABLE IF EXISTS bkt_cust_test")


def test_range_layout_enables_file_skipping(spark, sf_dir, tmp_path):
    """The 100 TB data-layout lever: writing a table
    ``repartitionByRange`` on the hot predicate column gives each file
    a narrow min/max range, so a point/range predicate prunes whole
    files at scan time. Asserted by counting distinct input files of
    the filtered read — the range layout must touch a strict subset
    while the unclustered layout touches every file."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 8
    clustered = str(tmp_path / "orders_range")
    scattered = str(tmp_path / "orders_scatter")
    orders.repartitionByRange(n_files, "o_custkey").write.parquet(clustered)
    orders.repartition(n_files).write.parquet(scattered)

    hot = F.col("o_custkey") < 50

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .filter(hot)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    assert files_touched(scattered) == n_files, "scattered layout reads all files"
    # the hot predicate covers ~1/3 of the key space -> at most
    # ceil(n_files/3)+1 range files overlap it (vs ALL scattered files)
    assert files_touched(clustered) <= n_files // 2, (
        "range layout must confine the hot range to a strict file subset"
    )


#: the drift / sketch / containment / LM / engagement / value /
#: schema-evolution / tokenizer family whose 100 TB posture these
#: plan guards pin
_FAMILY_PLAN_QUERIES = (
    "quality_psi_drift_orders",
    "events_asof_tolerance",
    "agg_heavy_hitters_cms",
    "text_containment_dedup",
    "text_perplexity_bigram",
    "events_dau_mau",
    "orders_rfm_segmentation",
    "corpus_training_ready",
    "format_schema_evolution",
    "text_bpe_merge_candidates",
    "orders_cohort_ltv",
    "events_seasonal_profile",
)


def test_staged_queries_plan_shapes(spark, sf_dir):
    """Plan guards for the drift/sketch/containment/LM/engagement
    family: no cartesian anywhere, single-scan shapes where
    designed."""
    for name in _FAMILY_PLAN_QUERIES:
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name in ("corpus_training_ready", "events_asof_tolerance",
                    "orders_rfm_segmentation"):
            assert plan.count("Scan parquet") == 1, (
                f"{name} must be single-scan"
            )
        if name == "agg_heavy_hitters_cms":
            # the per-key truth aggregate is checkpointed (one build
            # serves the sketch folds AND the estimate join) so it
            # appears as an RDD scan boundary; the sketch folds show
            # partial+final HashAggregate
            assert "Scan ExistingRDD" in plan, name
            assert plan.count("HashAggregate") >= 2, name
            assert plan.count("Scan parquet") <= 1, (
                "CMS must not re-scan lineitem for the sketch"
            )
        if name == "text_containment_dedup":
            assert "BroadcastNestedLoopJoin" not in plan, (
                "containment candidates must come from the gram index "
                "equi-join, never a nested-loop pair scan"
            )


def test_zorder_layout_skips_files_in_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs plain range layout: the range layout prunes only
    its own sort column (the other predicate touches every file); the
    Z-layout gives BOTH columns' predicates a strict file subset."""
    from pyspark.sql import functions as F

    from incubyte_vaccination_data_pipeline_spark.operators.partitioning import (
        zorder_layout,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16
    rng = str(tmp_path / "orders_1d")
    zod = str(tmp_path / "orders_z")
    orders.repartitionByRange(n_files, "o_custkey").write.parquet(rng)
    zorder_layout(orders, "o_custkey", "o_totalprice", n_files).write.parquet(zod)

    lo_cust = F.col("o_custkey") < orders.agg(
        F.expr("percentile(o_custkey, 0.1)")
    ).collect()[0][0]
    lo_price = F.col("o_totalprice") < orders.agg(
        F.expr("percentile(o_totalprice, 0.1)")
    ).collect()[0][0]

    def touched(path, pred):
        return (
            spark.read.parquet(path).filter(pred)
            .select(F.input_file_name()).distinct().count()
        )

    # 1-D layout: custkey prunes hard, price reads everything
    assert touched(rng, lo_cust) <= n_files // 4
    assert touched(rng, lo_price) == n_files
    # Z-layout: BOTH dimensions prune to a strict subset
    assert touched(zod, lo_cust) < n_files
    assert touched(zod, lo_price) < n_files
    # and the rows themselves are intact
    assert spark.read.parquet(zod).count() == orders.count()


def test_pack_sequences_no_single_partition_window(spark, sf_dir):
    """The global prefix sum must never plan a single-task global
    window: the running-sum Window is partitioned by the range id
    (one keyed exchange), partition totals travel via broadcast."""
    from incubyte_vaccination_data_pipeline_spark.catalog import QUERIES

    plan = _plan(QUERIES["corpus_pack_sequences"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__pid" in plan
    assert "BroadcastExchange" in plan  # the tiny offset table
    assert "CartesianProduct" not in plan


def test_q3_predicates_pushed_and_topk_take_ordered(spark, sf_dir):
    """Round-6 pin for the worst non-ANN bench ratio (q3 at 1.72x on
    the round-5 driver artifact — isolation re-timing shows ~1.1x, so
    the growth was session noise, not plan drift): all three scan
    predicates reach parquet, the 3-way join stays broadcast-shaped
    with no cartesian, and the top-10 is TakeOrderedAndProject, not a
    global sort."""
    plan = _plan(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,BUILDING\)", plan)
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    assert plan.count("Scan parquet") == 3, "exactly one scan per table"
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, (
        "top-10 must be TakeOrderedAndProject, not a global sort"
    )


def test_quality_weighted_sample_is_shuffle_free_scan_filter(spark, sf_dir):
    """The rejection sampler must stay a pure scan-side filter — no
    Exchange, no sample() RNG, one parquet scan (the 100 TB posture:
    the sampler is free)."""
    plan = _plan(QUERIES["sample_quality_weighted"](spark, sf_dir))
    assert "Exchange" not in plan, "quality-weighted sampling must not shuffle"
    assert plan.count("Scan parquet") == 1
    assert "Sample" not in plan, "must be hash-deterministic, not sample()"


def test_keep_best_single_shuffle_past_pair_cache(spark, sf_dir):
    """Beyond the shared candidate-pair/cluster work, the keep-best
    retention adds ONE cluster_id exchange serving both the argmax
    window and the member count (the two windows share partitioning)."""
    QUERIES["dedup_clusters"](spark, sf_dir).count()  # warm shared pairs
    plan = _plan(QUERIES["dedup_keep_best"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # both window functions evaluate inside the same cluster_id
    # partitioning: exactly one exchange whose key is cluster_id
    import re as _re

    cluster_exchanges = _re.findall(
        r"Exchange hashpartitioning\(cluster_id", plan
    )
    assert len(cluster_exchanges) == 1, plan.count("Exchange")


def test_bloom_runtime_filter_shape(spark, sf_dir):
    """The Bloom bit-test must sit in the fact side's scan stage
    (a Filter containing the forall over the literal word array,
    BEFORE any join), and the exact dim join must broadcast — the
    runtime-filter posture: at 100 TB the probe rows that fail the
    Bloom die before the exchange."""
    plan = _plan(QUERIES["join_bloom_runtime_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "exact dim join must broadcast"
    bhj = plan.index("BroadcastHashJoin")
    assert "forall" in plan[bhj:], (
        "bloom might_contain must filter the probe side below the join"
    )
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_zorder_layout_no_global_sort_or_window(spark, sf_dir):
    """File assignment must be a pure scan expression: fixed z-prefix
    ranges, not ntile/row_number over a global order — the plan may
    contain no Window and no range-partitioning exchange (the 100 TB
    rewrite is repartitionByRange on the precomputed file_id, never a
    single-task global sort)."""
    plan = _plan(QUERIES["layout_zorder_zonemap"](spark, sf_dir))
    assert "Window" not in plan, "layout must not use a global window"
    assert "rangepartitioning" not in plan, "no global sort exchange"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "the one-row min/max bounds must broadcast"
    )


def test_bitmap_distinct_two_associative_stages(spark, sf_dir):
    """Exact-distinct-by-bitmap must plan as two aggregation stages
    (words, then popcount rollup) with NO Expand (the count_distinct
    planning artifact it exists to avoid) and no join of any kind."""
    plan = _plan(QUERIES["agg_bitmap_exact_distinct"](spark, sf_dir))
    assert "Expand" not in plan, "bitmap path must not plan via Expand"
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "Join" not in plan


def test_interval_align_single_key_join_no_smj(spark, sf_dir):
    """The temporal align must stay ONE broadcast equi-join on the
    customer key (overlap as a post-join filter) — a SortMergeJoin or
    extra exchange means the overlap predicate leaked into the join
    planning."""
    plan = _plan(QUERIES["scd2_interval_align"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") == 1, plan.count("BroadcastHashJoin")


def test_expectations_single_scan_plus_broadcast_anti(spark, sf_dir):
    """The quality gate must cost one orders aggregate plus one
    broadcast anti-join for the FK rule — never a shuffle join, never
    row-scale output."""
    plan = _plan(QUERIES["quality_expectations_check"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # left_anti over broadcast keys


def test_range_boundaries_no_per_row_join(spark, sf_dir):
    """Boundary assignment must be a scan-side fold over the broadcast
    one-row boundary array: exactly one BroadcastNestedLoopJoin (the
    sanctioned one-row crossJoin), no hash join, no global sort."""
    plan = _plan(QUERIES["layout_range_boundaries"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_ivfpq_all_joins_broadcast(spark, sf_dir):
    """IVFADC's probe, code, LUT and re-rank joins must all broadcast
    (cells/shortlist/queries are metadata-scale sides); a
    SortMergeJoin would mean the corpus itself is being shuffled."""
    plan = _plan(QUERIES["ann_ivfpq_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_audience_overlap_bitmap_algebra_shape(spark, sf_dir):
    """Set algebra on bucket bitmaps: single orders scan with the
    year predicate pushed, two aggregation stages (conditional-mask
    bit_or, then popcount rollup), no Expand, no join between the
    sides, and no distinct materialization."""
    plan = _plan(QUERIES["set_bitmap_audience_overlap"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, "one scan feeds both sides"
    assert "Join" not in plan, "sides must combine bitwise, not by join"
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), (
        "year-range predicate must reach the scan"
    )


def test_dp_noisy_release_single_aggregate_no_extra_shuffle(spark, sf_dir):
    """The DP release is ONE map-side-combinable count aggregate; the
    noise must be a scalar projection over the aggregated rows, never
    a second shuffle or a join."""
    plan = _plan(QUERIES["quality_dp_noisy_release"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1, plan.count("Exchange")


def test_scd2_merge_single_pass_no_union_no_join(spark, sf_dir):
    """The MERGE applies as a row-level inline fan-out over the
    already-built history: one orders scan, one cust_i exchange, one
    Generate — never a self-union re-running the history subtree and
    never a join."""
    plan = _plan(QUERIES["incremental_scd2_merge"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "Union" not in plan, "merge must not rewrite by union"
    assert "Join" not in plan
    assert plan.count("Generate") == 1, "inline fan-out expected"


def test_pareto_abc_no_single_partition_window(spark, sf_dir):
    """The cumulative revenue share must come from the distributed
    prefix sum (range-partitioned window + broadcast offsets), never a
    single-task global window; the grand total joins as a broadcast
    one-row aggregate, not a cartesian blowup."""
    plan = _plan(QUERIES["orders_pareto_abc"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((\S+?)#", plan)
    assert specs and all(s == "__pid" for s in specs), specs
    # the only SinglePartition exchange allowed is the one-row grand
    # total that broadcasts back; a global-window sort would be a
    # second one feeding a Sort+Window
    assert plan.count("SinglePartition") <= 1
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_equiheight_histogram_no_single_partition_window(spark, sf_dir):
    """The global rank must come from the distributed prefix sum, not
    a single-task ROW_NUMBER window; the row-count total joins as a
    broadcast one-row aggregate."""
    plan = _plan(QUERIES["stats_equiheight_histogram"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((\S+?)#", plan)
    assert specs and all(s == "__pid" for s in specs), specs
    assert plan.count("SinglePartition") <= 1
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_multitouch_attribution_single_shuffle_no_join(spark, sf_dir):
    """Multi-touch credit must fold the (click x purchase) pair
    expansion into two range-frame windows over ONE user_id
    partitioning — no self-join, one scan, one exchange, and one sort
    shared by both window passes."""
    plan = _plan(QUERIES["events_attribution_multitouch"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 2
    specs = re.findall(r"windowspecdefinition\((\S+?)#", plan)
    assert specs and all(s == "user_id" for s in specs), specs


def test_bpe_apply_merge_vocab_bounded_no_cartesian(spark, sf_dir):
    """The BPE iteration must run over the checkpointed DISTINCT-WORD
    table (both branches share one vocabulary materialization — no
    re-scan of documents per branch), broadcast the one-row winning
    merge (never a cartesian or driver argmax), and take the top-k via
    TakeOrderedAndProject."""
    plan = _plan(QUERIES["text_bpe_apply_merge"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0  # vocab checkpoint feeds both
    assert plan.count("Scan ExistingRDD") == 2
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "TakeOrderedAndProject" in plan


def test_kmv_theta_sketch_bounded_frames(spark, sf_dir):
    """The data-scale side must be the distinct + per-segment k-min
    window (seg-partitioned); every single-partition structure runs
    over sketch-sized (<=2k row) checkpointed frames, and the one-row
    assemblies broadcast (no cartesian). Round 8: the shared ranked
    frame is checkpointed (both branches consumed it, duplicating the
    hashed->distinct->window subtree), so the final plan shows ONLY
    checkpoint scans and no window at all — the seg-partitioning guard
    moves to the un-checkpointed lineage via _kmv_ranked."""
    plan = _plan(QUERIES["agg_kmv_theta_sketch"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0  # checkpointed inputs feed all branches
    assert plan.count("Scan ExistingRDD") == 4
    assert "CartesianProduct" not in plan
    # every window ran inside a checkpointed bounded frame
    assert "windowspecdefinition" not in plan
    # the data-scale window is seg-partitioned (never a global sort):
    # assert on the pre-checkpoint lineage the query shares
    from incubyte_vaccination_data_pipeline_spark.catalog.relational_ext import (
        _kmv_ranked,
    )
    from incubyte_vaccination_data_pipeline_spark.sources.parquet_io import read_table
    from pyspark.sql import functions as F

    sel = (
        read_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .select(
            F.year("o_orderdate").cast("int").alias("seg"),
            F.col("o_custkey").alias("ck"),
        )
        .distinct()
    )
    rplan = _plan(_kmv_ranked(sel))
    specs = re.findall(r"windowspecdefinition\((\S+?)#", rplan)
    assert specs and all(s == "seg" for s in specs), specs


def test_weighted_reservoir_topk_no_shuffle(spark, sf_dir):
    """A-ES weighted sampling must be one scan + distributed partial
    top-k (TakeOrderedAndProject) — zero exchanges, no global sort."""
    plan = _plan(QUERIES["sample_weighted_reservoir"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 0
    assert plan.count("TakeOrderedAndProject") == 1


def test_association_rules_broadcast_no_selfjoin(spark, sf_dir):
    """Rule scoring must reuse ONE checkpointed distinct-basket frame
    for pairs, item supports and the basket total (4 RDD refs, zero
    parquet re-scans), broadcast the vocabulary-bounded support table
    (no sort-merge join), and take the top rules distributed."""
    plan = _plan(QUERIES["basket_association_rules"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 4
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("TakeOrderedAndProject") == 1


def test_window_funnel_single_shuffle_pushed_filter(spark, sf_dir):
    """windowFunnel must be one scan with the funnel-type filter
    pushed to parquet, one user_id shuffle, no join, and the state
    machine folded JVM-side (no Python)."""
    plan = _plan(QUERIES["events_window_funnel"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "PushedFilters: [" in plan and "In(event_type" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_mad_outliers_rank_windows_broadcast_medians(spark, sf_dir):
    """MAD must come from event_type-partitioned rank windows (never a
    global sort) with the one-row-per-type medians broadcast back; the
    checkpointed base feeds all branches without re-scanning."""
    plan = _plan(QUERIES["events_anomaly_mad"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    specs = re.findall(r"windowspecdefinition\((\S+?)#", plan)
    assert specs and all(s == "event_type" for s in specs), specs


def test_survival_retention_calendar_bounded(spark, sf_dir):
    """Everything after the per-customer min/max aggregate must run on
    the calendar-bounded month frame: the only data-scale shuffle is
    the customer aggregate; the corpus-end scalar broadcasts; no
    cartesian; the suffix-sum window runs on the tiny frame (constant
    partition key is acceptable ONLY because rows <= months)."""
    plan = _plan(QUERIES["orders_survival_retention"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0  # checkpointed cust frame feeds both
    assert plan.count("Scan ExistingRDD") == 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_autocorrelation_two_shuffles_no_join(spark, sf_dir):
    """ACF must be two keyed aggregations + a per-row array fold —
    no join, no per-lag re-scan. r15: the daily aggregate comes from
    the shared checkpointed frame (events_ext.shared_daily_cents), so
    the plan shows NO parquet scan at all — the one-scan-one-aggregate
    guard lives on the builder (test_shared_daily_cents_builder_and_reuse)."""
    plan = _plan(QUERIES["events_autocorrelation"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_benford_single_aggregate_broadcast_total(spark, sf_dir):
    """One scan builds the 9-row digit aggregate; the checkpointed
    frame feeds both the grand total and the output projection, the
    total broadcasting back (never a cartesian)."""
    plan = _plan(QUERIES["quality_benford_check"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_cusum_no_join_calendar_bounded(spark, sf_dir):
    # r15: daily aggregate from the shared checkpointed frame — no
    # parquet scan in the consumer (builder guard covers the scan)
    plan = _plan(QUERIES["events_changepoint_cusum"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "Join" not in plan


def test_link_prediction_shared_edges_broadcast_no_cartesian(spark, sf_dir):
    """Link prediction must consume the shared checkpointed edge frame
    (no lineitem re-scan), drop existing edges via a broadcast
    anti-join, and broadcast the vocabulary-bounded degree table."""
    plan = _plan(QUERIES["graph_link_prediction"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("TakeOrderedAndProject") == 1


def test_top_paths_single_shuffle_takeordered(spark, sf_dir):
    plan = _plan(QUERIES["events_top_paths"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("TakeOrderedAndProject") == 1


def test_yoy_growth_broadcast_star(spark, sf_dir):
    plan = _plan(QUERIES["lineitem_yoy_brand_growth"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bot_signals_single_shuffle(spark, sf_dir):
    """Lag window and per-user aggregate must share one user_id
    partitioning — one scan, one exchange, no join."""
    plan = _plan(QUERIES["events_bot_signals"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # window + (possible) agg reuse


def test_shared_daily_cents_builder_and_reuse(spark, sf_dir):
    """r15: the five time-series queries (ses, holt_linear,
    holt_winters, autocorrelation, changepoint_cusum) share one
    checkpointed (event_type, day, cents) frame per corpus. The
    UN-checkpointed builder must stay one scan + one keyed aggregate
    (the checkpointed frame's plan is an opaque LogicalRDD, so the
    guard asserts on the builder — r8 gotcha), and repeated calls must
    return the SAME cached frame object."""
    from incubyte_vaccination_data_pipeline_spark.catalog.events_ext import (
        _daily_cents_frame,
        shared_daily_cents,
    )

    plan = _plan(_daily_cents_frame(spark, sf_dir))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 1, f"daily-cents builder needs one shuffle, saw {shuffles}"
    assert plan.count("Scan parquet") == 1, "builder must scan events once"

    a = shared_daily_cents(spark, sf_dir)
    b = shared_daily_cents(spark, sf_dir)
    assert a is b, "shared frame must be cached per (app, corpus)"
    # the shared frame computes exactly what the builder computes
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in _daily_cents_frame(spark, sf_dir).collect()}
    assert sa == sb
