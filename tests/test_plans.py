"""Physical-plan pins: the 100 TB design rules as assertions.

A plan regression (lost pushdown, un-broadcast dim, extra shuffle) fails
here like a wrong answer would. Counts are upper bounds where AQE has
latitude, exact where the shape is load-bearing.
"""

import pytest

from iceberg_catalog_migrator_spark.plans import plan_audit
from iceberg_catalog_migrator_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def audit(queries, spark, name):
    return plan_audit(queries[name].fn(spark, SF))


def test_q1_scan_side_filter_and_pruning(spark, queries):
    a = audit(queries, spark, "q1_pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert any("l_shipdate" in pf for pf in a.pushed_filters)
    # single shuffle: the groupBy; nothing else
    assert a.n_shuffles == 1
    # column pruning: only the 7 referenced columns are read
    assert a.scan_reads_only(
        0,
        {
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        },
    )


def test_q3_dim_filter_pushdown_and_broadcast(spark, queries):
    a = audit(queries, spark, "q3_shipping_priority")
    assert any("c_mktsegment" in pf and "BUILDING" in pf for pf in a.pushed_filters)
    assert a.n_broadcasts >= 1  # customer side is hinted broadcast
    # one shuffle for the aggregation (+ possibly one for the sort)
    assert a.n_shuffles <= 2


def test_q5_star_join_single_shuffle(spark, queries):
    a = audit(queries, spark, "q5_local_supplier_volume")
    assert a.n_broadcasts >= 2  # nation + region explicitly broadcast
    assert a.n_shuffles <= 2


def test_q6_pure_scan_filter(spark, queries):
    a = audit(queries, spark, "q6_revenue_forecast")
    assert len(a.pushed_filters[0].split(",")) >= 3  # shipdate x2, discount, quantity
    assert a.n_shuffles == 1  # global agg partial→final
    assert a.scan_reads_only(0, {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"})


def test_sessionization_single_shuffle(spark, queries):
    # lag-window, cumsum-window, and groupBy all share the user_id
    # partitioning: Spark must plan exactly one exchange
    a = audit(queries, spark, "events_sessionization")
    assert a.n_shuffles == 1


def test_similarity_single_scan_one_shuffle(spark, queries):
    a = audit(queries, spark, "similarity_bruteforce_topk")
    # the query matrix rides into the map-side matmul kernel as a
    # closure, so the corpus is scanned exactly once and the only
    # shuffle is the per-query top-k window
    assert a.n_scans == 1
    assert a.n_shuffles == 1


def test_scalar_showcase_no_shuffle(spark, queries):
    a = audit(queries, spark, "scalar_functions_showcase")
    assert a.n_shuffles == 0
    assert a.has_wholestage_codegen


def test_minhash_bounded_shuffles(spark, queries):
    # shingle distinct + signature groupBy; the band self-join is on
    # already-partitioned output
    a = audit(queries, spark, "dedup_minhash_lsh_candidates")
    assert a.n_shuffles <= 3


def test_all_query_scans_prune_columns(spark, queries):
    """No query may read a full-width lineitem/orders scan when it uses
    a few columns; spot-check by asserting every lineitem scan reads
    fewer than the table's 11 columns unless all are needed."""
    for name in ("q3_shipping_priority", "q14_promo_effect", "window_top3_parts_per_brand"):
        a = audit(queries, spark, name)
        for schema in a.read_schemas:
            assert len(schema.split(",")) <= 8, f"{name} reads too many columns: {schema}"


def test_q8_market_share_pins_fact_tree_once(spark, queries):
    # r16: the by-nation aggregate is pinned (localCheckpoint), so the
    # 7-table join tree executes exactly once — the timed plan reads
    # the pinned (years x nations) rows for BOTH the yearly total and
    # the nation filter, with zero parquet re-scans and at most the
    # total-aggregation exchange + broadcast join
    a = audit(queries, spark, "q8_market_share")
    assert "ExistingRDD" in a.text  # the pinned fact aggregate
    # no parquet scan re-executes in the timed plan (the two plan scans
    # are both reads of the pinned RDD)
    assert "Scan parquet" not in a.text
    assert a.n_shuffles <= 2
    assert a.n_cartesian == 0


def test_q2_min_price_one_shuffle(spark, queries):
    # both dims broadcast; the per-part window is the single shuffle
    a = audit(queries, spark, "q2_min_price_supplier")
    assert a.n_broadcasts == 2
    assert a.n_shuffles == 1


def test_q13_histogram_two_shuffles(spark, queries):
    # per-customer agg + histogram agg; the customer join broadcasts
    a = audit(queries, spark, "q13_customer_order_distribution")
    assert a.n_shuffles == 2


def test_q21_shared_orderkey_partitioning(spark, queries):
    # the explicit l_orderkey repartition serves both the per-supplier
    # aggregation and the order window (subset clustering rule)
    a = audit(queries, spark, "q21_blocking_suppliers")
    assert a.n_shuffles == 2


def test_embedding_neardup_single_shuffle(spark, queries):
    # one shuffle: the label-bucket applyInPandas; everything downstream
    # of the Arrow kernel is map-side
    a = audit(queries, spark, "dedup_embedding_cosine")
    assert a.n_shuffles == 1
    assert "ArrowEvalPython" in a.text or "FlatMapGroupsInPandas" in a.text


def test_q17_correlated_avg_single_pass_window(spark, queries):
    # r16: the correlated per-part average is a window over the brand
    # join's own partkey partitioning — ONE pass over brand lines (the
    # aggregate+self-join rendering ran the lineitem x part join twice);
    # the brand part filter still broadcasts, and the only exchanges are
    # the window partitioning + the final scalar aggregation
    a = audit(queries, spark, "q17_small_quantity_revenue")
    assert a.n_broadcasts >= 1
    assert a.n_shuffles <= 2
    assert "Window" in a.text
    assert a.n_scans == 2  # lineitem + part exactly once each


# ------------------------------------------------- round-2 operators
def test_repetition_ratio_is_shuffle_free(spark, queries):
    # per-doc array math only: the plan must contain no exchange at all
    a = audit(queries, spark, "text_repetition_ratio")
    assert a.n_shuffles == 0


def test_pii_scrub_is_shuffle_free(spark, queries):
    a = audit(queries, spark, "text_pii_scrub")
    assert a.n_shuffles == 0


def test_decontaminate_bounded_shuffles(spark, queries):
    # shingle explode + benchmark distinct + join + per-doc agg; the
    # benchmark side is small and must not force extra exchanges
    a = audit(queries, spark, "text_decontaminate")
    assert a.n_shuffles <= 4


def test_composition_report_single_shuffle(spark, queries):
    a = audit(queries, spark, "corpus_composition_report")
    assert a.n_shuffles == 1


def test_hyperplane_lsh_single_corpus_pass(spark, queries):
    # one mapInPandas over the corpus + the per-query top-k window:
    # nothing may shuffle before the kernel output
    a = audit(queries, spark, "similarity_hyperplane_lsh_topk")
    assert a.n_shuffles <= 1


def test_cdc_latest_state_single_key_shuffle(spark, queries):
    # one exchange on the compaction key; the window sorts per-key, and
    # nothing reaches Python
    a = audit(queries, spark, "events_cdc_latest_state")
    assert a.n_shuffles == 1
    assert not a.has_python_eval


def test_importance_sampling_single_shuffle(spark, queries):
    # acceptance is a map-side filter; the only exchange is the bounded
    # per-lang aggregate
    a = audit(queries, spark, "sample_importance_weighted")
    assert a.n_shuffles <= 1
    assert not a.has_python_eval


def test_postings_bounded_shuffles(spark, queries):
    # (term, doc) agg + term agg — both partial-aggregate keyed; nothing
    # shuffles per token occurrence
    a = audit(queries, spark, "index_postings_per_term")
    assert a.n_shuffles <= 2
    assert not a.has_python_eval


def test_tfidf_df_side_broadcasts(spark, queries):
    # the vocabulary-sized df table must broadcast into the scoring join
    # (a sort-merge join here would shuffle the posting table twice)
    a = audit(queries, spark, "tfidf_top_terms_per_doc")
    assert a.n_broadcasts >= 1
    assert a.n_sort_merge_joins == 0
    assert not a.has_python_eval


def test_simhash_hamming_band_join_no_python(spark, queries):
    # bit-space LSH runs entirely in column expressions; the band
    # self-join must not degrade to a cartesian product
    a = audit(queries, spark, "dedup_simhash_hamming_pairs")
    assert not a.has_python_eval
    assert a.n_cartesian == 0


def test_retention_cohorts_shuffles_user_weeks_only(spark, queries):
    # the event table distinct-collapses to (user, week) pairs before any
    # join; everything downstream is keyed on user/cohort dimensions, so
    # no exchange ever moves raw events, and nothing reaches Python
    a = audit(queries, spark, "events_retention_cohorts")
    assert a.n_shuffles <= 5
    assert not a.has_python_eval
    assert a.n_cartesian == 0


def test_query_join_topk_broadcasts_no_closure_matrix(spark, queries):
    # the scale-path ANN tier must keep the query set in the DataFrame
    # plane: a broadcast hash join on the LSH bucket, with the dot
    # products and bucket bits as pure Spark expressions — no Python
    # node of any kind (closure kernels would show InPandas/EvalPython)
    a = audit(queries, spark, "similarity_query_join_topk")
    assert a.n_broadcasts >= 1
    assert a.n_cartesian == 0
    assert not a.has_python_eval
    assert "InPandas" not in a.text


# ------------------------------------------------- round-5 operators
def test_embedding_neardup_ivf_single_shuffle_no_extra_join(spark, queries):
    # cell assignment must ride the closure model map-side: exactly one
    # exchange (the cell-bucket applyInPandas), no join against a cells
    # table, no cartesian
    a = audit(queries, spark, "dedup_embedding_cosine_ivf")
    assert a.n_shuffles == 1
    assert a.n_cartesian == 0


def test_containment_same_join_shape_as_jaccard(spark, queries):
    # containment re-ranks the same collision-bounded candidate join:
    # bounded shuffles, broadcastable count tables, never a cross join
    a = audit(queries, spark, "dedup_containment_pairs")
    assert a.n_shuffles <= 8
    assert a.n_cartesian == 0


def test_bmp_decode_is_shuffle_free(spark, queries):
    # synth -> decode -> per-row stats is one map-side Arrow pipeline
    a = audit(queries, spark, "multimodal_bmp_decode_stats")
    assert a.n_shuffles == 0
    assert a.n_cartesian == 0


def test_sketch_containment_bounded_shuffles(spark, queries):
    # df-cap window + sketch window + probe join + pair groupBy + size
    # join: five keyed shuffles, no cartesian, no Python anywhere
    a = audit(queries, spark, "dedup_sketch_containment_candidates")
    assert a.n_shuffles <= 5
    assert a.n_cartesian == 0
    assert not a.has_python_eval


def test_multiprobe_same_single_scan_shape_as_ivf(spark, queries):
    # widening the probe list must not change the plan shape: still one
    # corpus scan with the model in the closure, one top-k shuffle
    a = audit(queries, spark, "similarity_ivf_multiprobe_topk")
    assert a.n_shuffles == 1
    assert a.n_cartesian == 0


def test_kmeans_cluster_census_single_shuffle(spark, queries):
    # map-side assignment from the closure model + one groupBy
    a = audit(queries, spark, "embedding_kmeans_clusters")
    assert a.n_shuffles == 1
    assert a.n_cartesian == 0


# ------------------------------------------------- round-6 operators
def test_chunking_is_shuffle_free(spark, queries):
    # tokenize -> window starts -> posexplode -> slice is a narrow
    # per-row expansion: no exchange, no Python
    a = audit(queries, spark, "chunk_documents_sliding")
    assert a.n_shuffles == 0
    assert not a.has_python_eval


def test_flatten_sampling_broadcasts_census(spark, queries):
    # the per-language census is broadcast back; documents never
    # shuffle for the join — only the census agg and the final rollup
    a = audit(queries, spark, "sample_flatten_by_language")
    assert a.n_broadcasts >= 1
    assert a.n_shuffles <= 2
    assert not a.has_python_eval


def test_ngram_duplication_rate_bounded_shuffles(spark, queries):
    # shared shingle stage + df-count groupBy + join-back + per-doc
    # rollup: keyed shuffles only, never a cartesian
    a = audit(queries, spark, "dedup_ngram_duplication_rate")
    assert a.n_shuffles <= 4
    assert a.n_cartesian == 0


def test_semdedup_no_quadratic_outside_kernel(spark, queries):
    # cell tagging rides the closure model map-side; the only quadratic
    # work is inside the guarded per-cell Gram kernel, and the keep
    # list is an anti-join — no cartesian anywhere
    a = audit(queries, spark, "dedup_semdedup_keep_one")
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 4


def test_phash_census_single_shuffle(spark, queries):
    # decode + dHash are one map-side Arrow pass; the census groupBy on
    # the bounded hash key is the only exchange
    a = audit(queries, spark, "multimodal_phash_groups")
    assert a.n_shuffles == 1
    assert a.n_cartesian == 0


def test_anomaly_zscore_broadcasts_moments(spark, queries):
    # hourly counts are the one real shuffle; the per-type moment table
    # broadcasts back and the z test stays in integer expressions
    a = audit(queries, spark, "events_hourly_anomaly_zscore")
    assert a.n_broadcasts >= 1
    # 3 static shuffles: hourly counts on each branch (the runtime
    # dedups them via ReusedExchange) + the 5-row moment aggregate
    assert a.n_shuffles <= 3
    assert not a.has_python_eval


def test_pagerank_keyed_joins_only(spark, queries):
    # two unrolled BSP rounds: rank-to-edge joins + per-dst aggregates,
    # all keyed on the domain — never a cartesian, never Python
    a = audit(queries, spark, "graph_domain_pagerank")
    assert a.n_cartesian == 0
    assert not a.has_python_eval


def test_basket_pairs_no_self_join_shuffle(spark, queries):
    # pair expansion happens inside the per-basket array (combination
    # expression), never via a second exchange of the item stream; the
    # support keep-list broadcasts, and the basket-set shuffle is reused
    # for every orderkey-keyed step
    # the basket-set and pair stages are persisted registered stages;
    # clear them so the audited plan is the BUILD shape regardless of
    # which test ran first
    from iceberg_catalog_migrator_spark.queries.registry import clear_stages

    clear_stages()
    a = audit(queries, spark, "basket_frequent_part_pairs")
    assert a.n_shuffles <= 6
    assert a.n_broadcasts >= 2  # support keep-list + n_baskets scalar
    assert a.n_cartesian == 0
    assert not a.has_python_eval


def test_fuzzy_join_is_blocked_broadcast(spark, queries):
    # the Levenshtein gate runs only inside blocking-key buckets of a
    # broadcast join — zero shuffles, no all-pairs comparison
    a = audit(queries, spark, "fuzzy_join_customer_supplier_names")
    assert a.n_shuffles == 0
    assert a.n_broadcasts >= 1
    assert a.n_cartesian == 0


def test_multi_grain_rollup_single_scan(spark, queries):
    # GROUPING SETS = one scan + one Expand + one aggregate, where three
    # separate grain groupBys would be three scans and three shuffles
    a = audit(queries, spark, "events_multi_grain_rollup")
    assert a.n_scans == 1
    assert a.n_shuffles == 1
    assert "Expand" in a.text


def test_top_paths_bounded_state(spark, queries):
    # sessionize (user shuffle) -> per-session path (user+session
    # shuffle) -> path census + bounded top-k; the slice caps per-group
    # array growth
    a = audit(queries, spark, "events_top_paths")
    assert a.n_shuffles <= 4
    assert not a.has_python_eval


def test_cdc_snapshot_diff_reuses_user_partitioning(spark, queries):
    # both snapshots window on user_id and the diff joins on user_id —
    # the join must not add exchanges beyond the two snapshot windows +
    # the broadcast scalar cutoff
    a = audit(queries, spark, "events_cdc_snapshot_diff")
    assert a.n_shuffles <= 3
    assert a.n_broadcasts >= 1


def test_histogram_windows_only_aggregated_bins(spark, queries):
    # the share-of-total window runs over <= HIST_BINS aggregated rows;
    # the input-sized stage is a single map-side-combined groupBy
    a = audit(queries, spark, "histogram_order_totals")
    assert a.n_shuffles <= 2


def test_decile_bands_reuse_lang_partitioning(spark, queries):
    # ntile windows on lang; the (lang, decile) groupBy hashes a
    # superset key but the window's lang partitioning bounds it to one
    # extra exchange at most
    a = audit(queries, spark, "doc_quality_decile_bands")
    assert a.n_shuffles <= 2
    assert not a.has_python_eval


def test_table_fingerprint_single_pass(spark, queries):
    # one scan, one single-row aggregate: checksum must never sort or
    # shuffle the table (xor is order-independent by construction)
    a = audit(queries, spark, "table_fingerprint_orders")
    assert a.n_scans == 1
    assert a.n_shuffles <= 1
    assert not a.has_python_eval


def test_scd2_single_user_exchange(spark, queries):
    # lag window, run groupBy, and lead window all key on user_id first
    # — one user-keyed exchange feeds the entire interval build
    a = audit(queries, spark, "events_scd2_history")
    assert a.n_shuffles <= 2


def _n_parquet_scans(a):
    # unique parquet-scan nodes in a fresh (unexecuted) plan: one
    # "(N) Scan parquet" details header per node id
    import re

    return len(re.findall(r"\(\d+\) Scan parquet", a.text))


def test_incremental_merge_is_partial_aggregation(spark, queries):
    # base and delta partials each map-side combine; the merge is a
    # groupBy over |event_type| partial rows, not over raw events
    a = audit(queries, spark, "incremental_agg_maintenance")
    assert a.n_broadcasts >= 1  # the scalar cutoff
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 4
    # r16: the 1-row cutoff is pinned, so its events-max subtree no
    # longer re-executes inside each branch's broadcast — the only
    # events scans left are the declared base/delta partial pair
    assert _n_parquet_scans(a) == 2


def test_skew_diagnostics_census_reuse(spark, queries):
    # the key census is the only input-sized shuffle; moments and the
    # heavy-key probe run over census rows with broadcast scalars
    a = audit(queries, spark, "skew_key_diagnostics")
    assert a.n_cartesian == 0
    assert a.n_broadcasts >= 2
    # r16: the census is pinned — moments, probe, and broadcast(stats)
    # all read the checkpointed census; events is scanned exactly once,
    # at checkpoint time, so the final plan carries no parquet scan
    assert _n_parquet_scans(a) == 0


def test_triangle_count_ordered_enumeration(spark, queries):
    # canonical p1<p2 edges + two keyed joins and a semi probe — each
    # triangle counted once, no cartesian, all exchanges key-bounded
    a = audit(queries, spark, "graph_copurchase_triangles")
    assert a.n_cartesian == 0
    assert not a.has_python_eval


def test_priority_transitions_single_window_exchange(spark, queries):
    # lag window keys on custkey; the transition-matrix groupBy is over
    # a 25-cell key space (map-side combined)
    a = audit(queries, spark, "orders_priority_transitions")
    assert a.n_shuffles <= 2


def test_distribution_windows_share_segment_exchange(spark, queries):
    # both windows partition by mktsegment — one exchange, two sorts at
    # most, never a global (unpartitioned) window
    a = audit(queries, spark, "window_distribution_functions")
    assert a.n_shuffles == 1


def test_url_canonical_dedup_is_one_groupby(spark, queries):
    # canonicalization is a pure projection; the census costs two
    # exchanges only because of the exact distinct-raw-variant count
    # (partial on (canonical, url), final on canonical) — never more
    a = audit(queries, spark, "dedup_url_canonical_groups")
    assert a.n_shuffles <= 2
    assert not a.has_python_eval


def test_gap_fill_spine_from_aggregates(spark, queries):
    # the spine generates from per-type bounds over the ALREADY
    # aggregated hourly table; the static plan shows the hourly subtree
    # twice (bounds branch + fill branch) but the exchanges are
    # identical and dedupe at runtime via ReusedExchange — what must
    # never appear is a third scan or a per-raw-event spine shuffle
    a = audit(queries, spark, "events_hourly_gap_fill")
    assert a.n_scans <= 2
    assert a.n_shuffles <= 5
    assert not a.has_python_eval


def test_rfm_windows_over_customer_aggregate(spark, queries):
    # the three global ntile windows run over the per-customer AGGREGATE
    # (key cardinality), never over raw orders; one orders scan
    a = audit(queries, spark, "customer_rfm_segments")
    assert a.n_scans == 1
    assert not a.has_python_eval


def test_abc_classes_shared_global_ordering(spark, queries):
    # the running sum and the grand total share the single ordered pass
    # over the per-part aggregate; raw lineitem shuffles once
    a = audit(queries, spark, "part_abc_revenue_classes")
    assert a.n_scans == 1
    assert a.n_shuffles <= 4


def test_burst_flags_single_user_exchange(spark, queries):
    # range-frame window and the per-user census both key on user_id —
    # one exchange end to end
    a = audit(queries, spark, "events_burst_user_flags")
    assert a.n_shuffles == 1
    assert not a.has_python_eval


def test_rolling_wau_dedups_before_range_join(spark, queries):
    # the spine range-join must consume the DEDUPED (day, user) pairs,
    # never raw events; the spine broadcasts (days are bounded), so the
    # fan-out join adds no exchange of the pair stream
    a = audit(queries, spark, "events_rolling_7d_active_users")
    assert a.n_broadcasts >= 1
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 5


def test_slo_single_conditional_aggregate(spark, queries):
    # one hourly groupBy; the breach decision is a pure expression on
    # the aggregate row — no second pass, no Python
    a = audit(queries, spark, "events_error_rate_slo")
    assert a.n_shuffles == 1
    assert not a.has_python_eval


def test_dow_seasonality_broadcast_total(spark, queries):
    # 7-row census + broadcast scalar total; the census subtree appears
    # twice statically (rows branch + total branch, deduped at runtime
    # via ReusedExchange) plus the single-partition total aggregate
    a = audit(queries, spark, "orders_dow_seasonality")
    assert a.n_broadcasts >= 1
    assert a.n_shuffles <= 3


def test_cohort_ltv_firsts_join_keyed(spark, queries):
    # firsts is per-customer; the cohort join keys on o_custkey and the
    # census groupBy is (cohort, offset)-bounded — never a cartesian
    a = audit(queries, spark, "orders_cohort_ltv")
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 5


def test_conversion_latency_single_user_window(spark, queries):
    # as-of window on user_id + one single-row percentile aggregate
    a = audit(queries, spark, "events_conversion_latency_percentiles")
    assert a.n_shuffles <= 2
    assert not a.has_python_eval


def test_candidate_quality_report_reuses_stage(spark, queries):
    # six scalar counts over the shared candidate stage + key-sized
    # truth joins; no Python, no cartesian
    a = audit(queries, spark, "dedup_candidate_quality_report")
    assert a.n_cartesian == 0


def test_ivf_recall_report_joins_topk_only(spark, queries):
    # the evaluation join touches N_QUERIES x TOP_K rows per side —
    # never the corpus — and both searches keep their single-scan shape
    a = audit(queries, spark, "similarity_ivf_recall_report")
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 6


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Runtime-filter readiness: a selective dim filter injects a bloom
    filter (`might_contain`) onto the fact side of a shuffle join.

    The fixture sits below the default creation/application size
    thresholds (they are sized for multi-GB scans), so the test forces
    them — what it pins is the JOIN SHAPE: an equi-join with a filtered
    build side that Catalyst's InjectRuntimeFilter recognizes. At 100 TB
    the default thresholds fire on exactly this shape, turning the fact
    scan into a pre-shuffle semi-filter."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: broadcast joins don't need runtime filters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_skyline_never_joins(spark, queries):
    # two-phase sweep: the dominance semantics must come from the
    # map-side kernels, never a pairwise O(n^2) dominance join
    a = audit(queries, spark, "skyline_parts_price_size")
    assert a.n_shuffles == 1  # only the survivors' single-partition exchange
    plan = queries["skyline_parts_price_size"].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_pq_adc_single_window_shuffle(spark, queries):
    # encode + ADC happen in the one corpus map pass (codebooks and
    # query tables in the closure); the only exchange is the per-query
    # top-k window
    a = audit(queries, spark, "similarity_pq_adc_topk")
    assert a.n_shuffles == 1


def test_reachability_recursive_bounded(spark, queries):
    # native recursive CTE over the persisted edge table; frontier
    # dedup keeps each level an aggregate, not a walk expansion
    a = audit(queries, spark, "graph_reachability_recursive")
    assert a.n_shuffles <= 3
    plan = queries["graph_reachability_recursive"].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan


def test_attribution_interval_join_then_one_window_key(spark, queries):
    a = audit(queries, spark, "events_attribution_multitouch")
    assert a.n_shuffles <= 3  # user-key join + purchase-key window/agg


def test_ewma_spine_is_broadcast(spark, queries):
    # the 16-offset spine must broadcast; fan-out is of the hourly
    # aggregate (16x), never of raw events
    a = audit(queries, spark, "events_hourly_ewma")
    assert a.n_broadcasts >= 1
    assert a.n_shuffles <= 3


def test_variant_props_single_aggregate(spark, queries):
    a = audit(queries, spark, "events_variant_props_stats")
    assert a.n_shuffles == 1


def test_snapshot_changelog_bounded_shuffles(spark, queries):
    # the changelog computes BOTH bag-difference directions in one
    # +1/-1 aggregation (snapshots.py read_changelog); two exceptAll
    # passes would shuffle each side twice and blow past this pin.
    # Budget: union-agg + flip semi-join + delete-key distinct +
    # final groupBy partials.
    a = audit(queries, spark, "snapshot_changelog_orders")
    assert a.n_shuffles <= 6
    # r16: the flip-candidate frame (carried rows matching a delete
    # key) is pinned — both diff sides read the checkpoint instead of
    # re-running the carried-file scan + semi-join per side
    assert "Scan ExistingRDD" in a.text
    assert _n_parquet_scans(a) <= 3


def test_snapshot_partition_prune_single_shuffle(spark, queries):
    # one file of eight survives partition pruning; the only exchange
    # is the scalar aggregate's partial->final
    a = audit(queries, spark, "snapshot_partition_pruned_orders")
    assert a.n_shuffles <= 1


def test_incremental_dedup_no_corpus_self_pair(spark, queries):
    # delta bands join corpus bands on (band, key) — keyed shuffles
    # only, no cartesian, and the jaccard re-rank touches candidates,
    # never the corpus paired with itself; all JVM-side
    a = audit(queries, spark, "dedup_incremental_delta_vs_corpus")
    assert a.n_cartesian == 0
    assert a.n_shuffles <= 8
    assert not a.has_python_eval


def test_leakage_split_no_cartesian_broadcast_labels(spark, queries):
    # component labels are duplicate-sized and broadcastable; the split
    # itself is a map-side hash, the leak audit keyed joins only
    a = audit(queries, spark, "sample_leakage_guarded_splits")
    assert a.n_cartesian == 0
    assert not a.has_python_eval


def test_snapshot_commit_delta_dedup_keyed_joins_only(spark, queries):
    # CDC delta feeds the band join: keyed shuffles, no cartesian, no
    # Python — the corpus is never self-paired
    a = audit(queries, spark, "dedup_snapshot_commit_delta")
    assert a.n_cartesian == 0
    assert not a.has_python_eval
