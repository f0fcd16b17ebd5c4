"""Scale-readiness gate (SURVEY.md §5): assert the physical plans have
the shape that survives 100 TB — pushdown, pruning, broadcasts,
map-side partial aggregation, no stray cartesian products.
"""

from __future__ import annotations

import pytest

from distributed_mapreduce_server_spark import registry
from distributed_mapreduce_server_spark.plans import (
    broadcast_join_count,
    cartesian_count,
    has_partial_agg,
    pushed_filters,
    scan_read_schemas,
    shuffle_count,
    window_partition_specs,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return registry.all_queries()


def test_q6_filters_reach_scan(spark, queries):
    """Q6 is a tight filter + sum: every predicate must be pushed into
    the parquet reader, not evaluated post-scan."""
    df = queries["q6_revenue_forecast"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_prunes_columns(spark, queries):
    """Q6 touches 4 lineitem columns; the scan must not read the other 12."""
    df = queries["q6_revenue_forecast"](spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all(len(s.split(",")) <= 4 for s in schemas)


def test_q1_partial_aggregation(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF)
    assert has_partial_agg(df)


@pytest.mark.parametrize("key", ["q3_shipping_priority", "q5_local_supplier", "q10_returned_items"])
def test_join_queries_broadcast_dims(spark, queries, key):
    """Dim tables (region/nation/customer at test SF) must broadcast —
    a shuffle join against a 5-row region table is wasted I/O."""
    df = queries[key](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1


@pytest.mark.parametrize(
    "key",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "q6_revenue_forecast",
        "q10_returned_items",
        "mr_wordcount",
        "dedup_minhash_lsh",
        "text_quality_score",
    ],
)
def test_no_cartesian_products(spark, queries, key):
    df = queries[key](spark, SF)
    assert cartesian_count(df) == 0


def test_wordcount_shuffle_budget(spark, queries):
    """Wordcount needs exactly one hash shuffle (the groupBy); the sort
    for output ordering adds one range exchange. More means a regression."""
    df = queries["mr_wordcount"](spark, SF)
    assert shuffle_count(df) <= 2


# Ops whose plans legitimately contain a nested-loop/cartesian element:
# broadcast crossJoins against deliberately tiny sets (query vectors,
# centroid codebooks, 1-row scalar aggregates).
DELIBERATE_NESTED_LOOP = {
    "sim_cosine_topk",
    "sim_range_search",  # broadcast query-set cross-join, like topk
    "sim_lsh_ann",
    "sim_matryoshka_eval",  # two topk arms, same broadcast pattern
    "sim_mmr_rerank",  # broadcast single-query candidate scan
    "text_bm25_search",  # 1-row broadcast corpus-stats cross-join
    "sim_hybrid_search",  # BM25 stats + broadcast query vector arms
    "sim_hamming_ann",  # broadcast query-signature cross-join
    "sim_bq_rerank",  # broadcast signature shortlist + query vectors
    "q_association_rules",  # 1-row broadcast basket-total cross-join
    "text_collocations",  # 1-row broadcast token-total cross-join
    "q_abc_analysis",  # 1-row broadcast revenue-total cross-join
    "text_corpus_report",  # datasheet: 1-row metric frames cross-joined
    "q22_idle_customers",
    "text_tfidf",
    "text_source_mix",  # 1-row broadcast totals cross-join
    "q_customer_rfm",  # 1-row broadcast anchor-date cross-join
    "text_unigram_logprob",  # 1-row broadcast corpus-total cross-join
    "text_bigram_logprob",  # 1-row broadcast vocab-size cross-join
    "q11_important_parts",  # 1-row broadcast grand-total cross-join
    "q_shuffle_key_skew",  # 1-row broadcast stats cross-join
    "mm_modality_mix",  # 1-row broadcast corpus-bytes cross-join
    "dedup_incremental",  # 1-row broadcast id-cutoff cross-join
    "text_mixture_sample",  # 1-row broadcast token-budget cross-join
    "dedup_incremental_neardup",  # 1-row broadcast id-cutoff cross-join
    "emb_encode_backfill",  # 1-row broadcast tail-cutoff cross-join
    "q_time_bucket_gapfill",  # 1-row broadcast time-bounds cross-join
    "q_snapshot_diff",  # 1-row broadcast snapshot-cutoff cross-join
    "q_events_trend_fit",  # 1-row broadcast day-zero anchor cross-join
    "emb_norm_outliers",  # 1-row broadcast (mu, sigma) stats cross-join
    "q_ivm_join_delta",  # 1-row broadcast id-cutoff cross-join
    "q_benford_audit",  # 1-row broadcast digit-total cross-join
    "q_events_sequential_pattern",  # 1-row broadcast user-total cross-join
    "text_source_kl_divergence",  # 1-row broadcast corpus-total cross-join
    "emb_outlier_knn_distance",  # 1-row broadcast (mu, sigma) stats cross-join
}

# Streaming / iterative ops execute eagerly inside the callable; the
# static-plan sweep only covers lazily-planned batch queries.
EAGER_OPS = {
    "stream_events_windowed",
    "stream_sessionize",
    "stream_dedup_exact",
    "stream_static_join_windowed",
    "stream_click_purchase_join",
    "stream_wordcount",
    "stream_trending_topk",
    "stream_trending_topk_append",
    "stream_upsert_foreachbatch",
    "stream_session_window_native",
    "stream_dedup_within_watermark",
    "stream_anomaly_filter",
    "stream_model_quality_filter",
    "pysource_stream_events",  # custom stream source drains eagerly
    "dedup_clusters",
    "dedup_semantic_clusters",  # CC loop over cosine pairs runs eagerly
    "dedup_clusters_bigstar",
    "dedup_incremental_neardup_indexed",  # index build runs eagerly
    "dedup_keep_canonical",
    "dedup_keep_best_quality",
    "emb_kmeans",
    "text_corpus_pipeline_neardup",
    "text_corpus_pipeline_semantic",
    "text_global_shuffle",  # partition-offset collect runs eagerly
    "text_perplexity_filter",  # two-phase rank offsets collect eagerly
    "text_bpe_train",  # iterative merge rounds run eagerly
    "mr_exec_wordcount",  # RDD pipe job: zipWithIndex runs eagerly
    "mr_exec_grep",  # RDD pipe job: zipWithIndex runs eagerly
    "mr_exec_join",  # RDD pipe job: zipWithIndex runs eagerly
    "emb_pca_project",  # driver spectral solve at plan time
    "emb_pca_invariants",  # spectral solve + stats collect; PCA_K-row result
    "dedup_lsh_eval",  # runs both pair operators eagerly; final plan
    # is a literal one-row projection with nothing to sweep
    "dedup_cluster_stats",  # rides the eager dedup_clusters loop
    "stream_ingest_partitioned",  # runs the ingest + sink readback eagerly
    "sim_ivf_nprobe_sweep",  # runs the IVF arm per width eagerly; 4-row createDataFrame
    "sim_ann_eval",  # runs all five ANN arms + exact eagerly; final
    # frame is a 5-row createDataFrame with nothing to sweep
    "q_events_value_deciles",  # two-phase rank offsets collect eagerly
    "q_moving_avg_events",  # two-phase sliding rank offsets collect eagerly
    "q_concurrent_sessions",  # sweep-line cumsum offsets collect eagerly
    "q_events_lateness",  # running-max frontier offsets collect eagerly
    "q_balance_percentiles",  # two-phase rank offsets collect eagerly
    "q_abc_analysis",  # two-phase running-sum offsets collect eagerly
    "text_zipf_fit",  # two-phase rank offsets collect eagerly
    "q_events_markov_stationary",  # K×K bounded collect + driver power iteration
    "stream_hierarchical_rollup",  # foreachBatch state build runs eagerly
    "src_csv_roundtrip",  # write_sink action runs eagerly
    "src_json_roundtrip",  # write_sink action runs eagerly
    "src_orc_roundtrip",  # write_sink action runs eagerly
    "src_gzip_text_roundtrip",  # write_sink action runs eagerly
    "stream_phrase_search",
    "stream_error_rate_slo",
    "q_graph_bfs_levels",  # iterative frontier loop runs eagerly
    "q_graph_triangles",  # persisted edge frame + checkpointed 1-row result
    "q_graph_common_neighbors",  # persisted capped frame + checkpointed top-K
    "q_graph_assortativity",  # persisted edge frame + checkpointed 1-row result
    "q_graph_adamic_adar",  # persisted capped frame + checkpointed top-K
    "q_events_hierarchical_rollup",  # persisted minute partials, checkpointed cascade
    "q_personalized_pagerank",  # seed collect + persisted edge loop runs eagerly
    "dedup_span_clean",  # gram-index persist + cached result run eagerly
    "stream_kl_drift",  # availableNow drain runs eagerly
    "dedup_minhash_est_eval",  # shingle/signature persist + cached 1-row result
    "text_bpe_fertility",  # rides text_bpe_train's eager merge loop
    "q_graph_clustering_coefficient",  # persisted edge frame + checkpointed curve
    "stream_burst_detection",  # availableNow drain runs eagerly
    "text_source_kl_divergence",  # per_src persist + checkpointed result
    "emb_outlier_knn_distance",  # kth-NN slice persist + checkpointed outliers
    # round-9 wave
    "q_gini_revenue",  # two-phase rank offsets collect eagerly + checkpointed 1-row result
    "dedup_threshold_sweep",  # persisted pair frame + checkpointed grid
    "q_graph_kcore_peel",  # iterative peel rounds run eagerly (createDataFrame result)
    "dedup_routed_eval",  # runs routed + exact pair generators eagerly; 1-row literal result
    "dedup_routed_probe_sweep",  # ranked assign + exact baseline persist; checkpointed curve
    "dedup_semantic_routed",  # codebook Lloyd training collects eagerly at plan build
    "dedup_semantic_routed_nested",  # two Lloyd trainers collect eagerly at plan build
    "dedup_routed_nested_eval",  # runs nested + exact pair generators eagerly; 1-row literal
    "dedup_routed_rank1_eval",  # runs both pair strategies eagerly; 1-row literal result
    "dedup_nested_probe_sweep",  # ranked nested assign + exact baseline persist; checkpointed grid
    "q_sketch_error_bounds",  # sketch + exact aggregates collect; 3-row createDataFrame
    "text_unigram_train",  # EM rounds run eagerly (createDataFrame result)
    "text_unigram_fertility",  # rides the eager EM; Viterbi kernel plan is lazy but tiny
    "text_unigram_tokenize",  # rides the eager EM; encode join plan is lazy
    # round-10 wave: trained ANN codebooks — the Lloyd trainers
    # collect eagerly at plan build (take(limit+1) fast path / per-
    # round partial-agg collect), like dedup_semantic_routed
    "stream_neardup_ingest",  # foreachBatch ingest loop drains eagerly
    "dedup_substr_multiscale",  # per-level gram ladders persist + cached report
    "dedup_lsh_br_sweep",  # shared signature/baseline persists; per-layout counts collect
    "q_graph_community_lpa",  # per-round label checkpoints run eagerly
    "text_quality_train",  # GD rounds run eagerly (createDataFrame result)
    "text_quality_trained_filter",  # rides the eager GD; scoring plan is lazy
    "text_quality_eval",  # rides the eager GD; eval agg plan is lazy
    "sim_ivf_ann",  # coarse codebook trains eagerly; serving plan is lazy
    "sim_ivfpq_ann",  # coarse + PQ codebooks train eagerly
    "sim_ivfpq_residual",  # coarse + PQ codebooks train eagerly
    "sim_pq_adc_ann",  # PQ codebook trains eagerly
    "emb_pq_quantize",  # PQ codebook trains eagerly
    "emb_ivf_balance",  # coarse codebook trains eagerly; footer count collect
}


@pytest.fixture(scope="module")
def lazy_plans(spark, queries):
    """Every lazily-planned registry query built once, shared by the
    global plan sweeps so each sweep doesn't rebuild 170+ plans."""
    return {
        key: fn(spark, SF)
        for key, fn in queries.items()
        if key not in EAGER_OPS
    }


def test_no_accidental_cartesians_anywhere(lazy_plans):
    """Global sweep: no registered batch query may plan a cartesian /
    nested-loop join unless it's on the deliberate-broadcast list."""
    offenders = []
    for key, df in lazy_plans.items():
        if key in DELIBERATE_NESTED_LOOP:
            continue
        if cartesian_count(df) > 0:
            offenders.append(key)
    assert not offenders, f"unexpected cartesian joins in: {offenders}"


# Columns whose cardinality is a fixed dimension (not data volume): a
# window partitioned ONLY by these sorts its whole input in that many
# tasks, which is fatal when the input is fact-sized.
TINY_DIM_WINDOW_COLS = {
    "event_type",
    "c_nationkey",
    "n_name",
    "n_regionkey",
    "r_name",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "c_mktsegment",
    "modality",
    "lang",
    "source",
    "abc_class",
    "quality_tercile",
}

# Empty / tiny-dim windows whose INPUT frame is already bounded by a
# constant or a fixed domain — per-key justification required.
BOUNDED_FRAME_WINDOWS = {
    "q_running_revenue": "cumulative over the per-DAY agg frame (calendar days)",
    "q_orders_yoy": "lag over the (segment x year) agg frame (~35 rows)",
    "q_skyline_parts": "window over DISTINCT price levels (bounded domain)",
    "q_seasonality_index": "12-row month frame",
    "q_open_order_backlog": "month-boundary frame (calendar-bounded)",
    "text_tokenize_to_ids": "vocab id assignment over a VOCAB_SIZE-limited frame",
    "text_reservoir_sample": "sample_rank over the k-row post-limit frame",
    "text_weighted_sample": "sample_rank over the k-row post-limit frame",
    "sim_hybrid_search": "RRF ranks over top-k bounded retrieval arms",
    "q_shuffle_key_skew": "rank over the 10-row top-K frame",
    "q_time_bucket_gapfill": "per-type gap-fill over the time-bucket grid",
    "q_new_vs_returning": "cumulative over the per-DAY agg frame",
    "q_events_autocorrelation": "lag over the (day x type) agg frame (calendar-bounded)",
    "q_events_burst_detection": "island window over the (type x hour) agg frame (calendar-bounded)",
    "stream_burst_detection": "same island window, over the DRAINED (type x hour) state table",
    "q_chi2_segment_priority": "marginal/total windows over the (segment x priority) cell frame (25 rows, dim-bounded)",
}


def test_no_fact_scale_low_card_windows(lazy_plans):
    """Global sweep (the round-4 verdict's top finding, generalized):
    no registry plan may contain a window whose partition spec is
    empty or a tiny dimension UNLESS its input frame is provably
    bounded (allowlist above with per-key justification). Fact-scale
    low-cardinality rankings must ride the two-phase kernels in
    operators/scale.py (whose windows partition by the range pid)."""
    offenders = []
    for key, df in lazy_plans.items():
        if key in BOUNDED_FRAME_WINDOWS:
            continue
        for cols in window_partition_specs(df):
            if (not cols) or set(cols) <= TINY_DIM_WINDOW_COLS:
                offenders.append((key, cols))
    assert not offenders, (
        f"low-cardinality-partition windows over unbounded frames: {offenders}"
    )


def test_asof_join_shuffle_budget(spark, queries):
    """The as-of realization must stay at ~2 shuffles (union window +
    output sort) — a join-based plan would show more."""
    df = queries["q_asof_last_purchase"](spark, SF)
    assert shuffle_count(df) <= 3


def test_q12_filter_join_shape(spark, queries):
    """Q12's scans must prune to the 3 projected columns each (at real
    scale both join sides are facts; broadcast choice is left to AQE,
    which picks by runtime size)."""
    df = queries["q12_late_shipments"](spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all(len(s.split(",")) <= 3 for s in schemas)


def test_q21_broadcasts_supplier_dim(spark, queries):
    """Q21's supplier dim must broadcast onto the tiny per-supplier
    rollup; the fact side aggregates before any join with it."""
    df = queries["q21_late_suppliers"](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1
    assert has_partial_agg(df)


def test_approx_quantiles_error_bound(spark, queries):
    """The percentile sketch must land within 1% relative error of the
    exact per-group percentiles at accuracy 10000."""
    approx = {r["l_returnflag"]: r for r in queries["q_approx_quantiles"](spark, SF).collect()}
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables

    li = load_tables(spark, SF, register_views=False)["lineitem"]
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        for ak, ek in [("approx_p50", "p50"), ("approx_p90", "p90"), ("approx_p99", "p99")]:
            assert abs(a[ak] - e[ek]) / e[ek] < 0.01, (flag, ak, a[ak], e[ek])


@pytest.mark.parametrize("key", ["q2_min_cost_supplier", "q11_important_parts", "q20_promo_suppliers"])
def test_new_tpch_adaptations_broadcast_dims(spark, queries, key):
    """Q2/Q11/Q20: every dim (part filter, supplier/nation/region) must
    broadcast below the fact scan — the only fact shuffle is the
    aggregation key."""
    df = queries[key](spark, SF)
    assert broadcast_join_count(df, execute=True) >= 1
    allowed = 1 if key == "q11_important_parts" else 0  # grand-total cross-join
    assert cartesian_count(df) <= allowed


def test_latest_per_key_single_shuffle(spark, queries):
    """CDC compaction = one keyed window shuffle + the output sort."""
    df = queries["q_events_latest_per_key"](spark, SF)
    assert shuffle_count(df) <= 2


def test_emb_covariance_shuffle_is_tiny(spark, queries):
    """The covariance shuffle must carry partial-Gram rows (~2k per
    partition), not per-(vector, pair) rows: the plan aggregates the
    mapInPandas output, and the means side partial-aggregates the
    posexplode before its shuffle."""
    df = queries["emb_covariance"](spark, SF)
    assert has_partial_agg(df)
    # partial Gram + means + broadcast joins + output sort stay bounded
    assert shuffle_count(df) <= 4


def test_pii_scrub_no_shuffle_before_sort(spark, queries):
    """PII scrubbing is scan-speed: pure column expressions, so the
    only exchange in the plan is the harness's output ordering."""
    df = queries["text_pii_scrub"](spark, SF)
    assert shuffle_count(df) <= 1


def test_sequence_packing_narrow_arrow_frame(spark, queries):
    """Only (source, doc_id, n_tokens) may cross the Python boundary —
    token counting must stay JVM-side so the Arrow transfer is 3
    narrow columns, never the text."""
    df = queries["text_sequence_packing"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"FlatMapGroupsInPandas.*", plan)
    assert m is not None
    assert "text" not in m.group(0)


def test_daily_sketch_rollup_error_bound(spark, queries):
    """Merged daily HLL estimates must land within 2% of the exact
    per-type distinct user counts (lgK=14 -> ~0.8% expected)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_server_spark.catalog import load_tables

    approx = {
        r["event_type"]: r["approx_users"]
        for r in queries["q_events_daily_sketch_rollup"](spark, SF).collect()
    }
    ev = load_tables(spark, SF, register_views=False)["events"]
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) / exact[et] < 0.02, (et, est, exact[et])


def test_gapfill_grid_is_broadcast_bounded(spark, queries):
    """The dense bucket grid must come from a BROADCAST 1-row bounds
    aggregate (time-range-bounded, never event-count-bounded), and the
    observed rollup must partial-aggregate map-side."""
    df = queries["q_time_bucket_gapfill"](spark, SF)
    assert has_partial_agg(df)
    assert broadcast_join_count(df, execute=True) >= 1


def test_scd2_single_keyed_shuffle(spark, queries):
    """All three SCD2 windows (lag change-detect, lead validity,
    row_number version) share the (user_id; ts, event_id) spec, so the
    plan gets ONE keyed shuffle plus the output sort."""
    df = queries["q_events_scd2"](spark, SF)
    assert shuffle_count(df) <= 2


def test_bpe_pairs_explode_after_vocab_agg(spark, queries):
    """The char-position explode must sit ABOVE the word-frequency
    aggregation (vocab-sized input), not on the corpus token stream:
    two partial-agg shuffles (wordcount + pair count) and a TakeOrdered
    — no third exchange for the top-K."""
    df = queries["text_bpe_pair_counts"](spark, SF)
    assert has_partial_agg(df)
    assert shuffle_count(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    gen_pos = plan.find("Generate explode(sequence")
    assert gen_pos != -1
    # executedPlan prints top-down: the position explode (char pairs)
    # must appear above at least one aggregate (the vocab build below it)
    assert plan.find("HashAggregate", gen_pos) != -1, (
        "vocab agg missing below explode"
    )


def test_shard_manifest_narrow_arrow_frame(spark, queries):
    """Only (media_type, doc_id, n_bytes) may cross the Python
    boundary — payload bytes must stay JVM-side (projected to their
    length before the pack groupBy)."""
    df = queries["mm_shard_manifest"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"FlatMapGroupsInPandas.*", plan)
    assert m is not None
    assert "payload" not in m.group(0)


def test_embedding_dedup_no_driver_collect(spark, queries):
    """Building the embedding-dedup plans must never materialize the
    corpus on the driver (the scale-killer the blocked pair-matmul
    kernel replaced): plan construction with DataFrame.collect()
    forbidden must succeed, and the plan must carry the grouped
    block-pair kernel (a count() for adaptive block sizing is fine —
    one scalar, not the corpus)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    with mock.patch.object(
        DataFrame, "collect", side_effect=AssertionError("driver collect in plan build")
    ):
        cos = queries["dedup_embedding_cosine"](spark, SF)
        keep = queries["dedup_semantic_keep"](spark, SF)
    for df in (cos, keep):
        # FlatMapGroupsInPandas since the round-5 single-shuffle grid
        # (formerly FlatMapCoGroupsInPandas)
        assert "GroupsInPandas" in df._jdf.queryExecution().executedPlan().toString()


def test_bm25_stats_broadcast_no_big_shuffle(spark, queries):
    """BM25: the only join is per_doc x the 1-row stats frame — it must
    be a broadcast (cross) join, never a shuffle of the corpus side;
    the corpus never shuffles except for the final top-k merge."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["text_bm25_search"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # TakeOrderedAndProject = distributed per-partition top-k merge,
    # not a global sort of the scored corpus
    assert "TakeOrderedAndProject" in plan


def test_hybrid_search_arms_are_topk_bounded(spark, queries):
    """Both retrieval arms end in TakeOrdered top-k BEFORE the fuse:
    the full-outer fusion join must not see corpus-sized inputs."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["sim_hybrid_search"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2


def test_pagerank_result_is_materialized_before_cache_release(spark, queries):
    """q_pagerank materializes its node-sized result through the edge
    cache (eager localCheckpoint) BEFORE unpersisting — the returned
    frame must be a checkpoint scan plus the output sort, never a
    re-derivation of the iterative loop (the first bench run measured
    exactly that bug: 61 Exchanges, 20 file scans, every round
    rebuilding the edge frame after unpersist)."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["q_pagerank"](spark, SF)
    plan = physical_plan(df)
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FileScan" not in plan
    assert plan.count("Exchange") <= 2


def test_matryoshka_truncated_arm_slices_arrays(spark, queries):
    """The truncated arm must slice vectors IN THE SCAN PROJECTION
    (slice(embedding, 1, 16)) — the 4x byte saving is the point."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    df = queries["sim_matryoshka_eval"](spark, SF)
    assert "slice(" in physical_plan(df)


def test_sampling_ops_are_sort_limit(spark, queries):
    """Reservoir + weighted samples must compile to TakeOrdered
    (per-partition top-k then k·P merge), not a global sort."""
    from distributed_mapreduce_server_spark.plans import physical_plan

    for k in ["text_reservoir_sample", "text_weighted_sample"]:
        plan = physical_plan(queries[k](spark, SF))
        assert "TakeOrderedAndProject" in plan, k


def test_registry_prefix_covers_all_families(queries):
    """The registry emits keys family-interleaved so any prefix sample
    (e.g. a driver verifying the first N keys) covers every operator
    family — pin it so a re-ordering can't silently regress driver
    coverage back to one family."""
    prefix = list(queries)[:50]
    fams = {
        "q" if k.startswith("q") else k.split("_", 1)[0] for k in prefix
    }
    assert {
        "q", "mr", "dedup", "sim", "emb", "text", "mm", "stream", "pysource"
    } <= fams, fams


# ---------------------------------------------------------------------------
# Executed-plan audit: the EAGER_OPS blind spot, closed (round 8)
# ---------------------------------------------------------------------------

SF_SMOKE = "/root/testdata/sf0.001"

# Eager ops whose EXECUTED plans legitimately contain a broadcast
# nested-loop element — the same bounded-broadcast patterns as
# DELIBERATE_NESTED_LOOP, observed in the status-store audit and
# justified per key (mention counts in plan descriptions are inflated
# by union legs and InMemoryRelation subtree printing; each is ONE
# bounded join shape):
EXECUTED_NESTED_LOOP = {
    "dedup_incremental_neardup_indexed": "1-row broadcast id-cutoff cross-join, repeated per band-union leg",
    "emb_kmeans": "K-row broadcast centroid crossJoin per Lloyd assignment round",
    "q_graph_triangles": "1-row broadcast edge-stats + triangle-count summary cross-joins (graph.py:312)",
    "sim_ann_eval": "broadcast query-set crossJoins in the exact baseline + ANN arms it evaluates",
    "sim_ivf_nprobe_sweep": "bounded broadcast query-set crossJoin inside each IVF arm",
    "text_perplexity_filter": "1-row broadcast corpus-total cross-join (bigram logprob model)",
    "dedup_nested_probe_sweep": "1-row broadcast exact-pair-count cross-join folded into the grid job (r13)",
    "dedup_routed_probe_sweep": "1-row broadcast exact-pair-count cross-join folded into the curve job (r13)",
    "stream_kl_drift": "1-row broadcast corpus-total cross-join in the shared KL fold",
}


@pytest.fixture(scope="module")
def eager_executed_plans(spark, queries):
    """Every EAGER op run at sf0.001 with its actually-EXECUTED plans
    captured from the SQL status store (plans/executed_plan_
    descriptions). Eager ops never expose a lazy frame to the static
    sweeps above — this is the post-hoc equivalent. Iterates
    EAGER_OPS itself, so a new eager key is audited automatically the
    moment it enters the allowlist."""
    from distributed_mapreduce_server_spark.plans import (
        executed_plan_descriptions,
        latest_execution_id,
    )

    out = {}
    for key in sorted(EAGER_OPS):
        since = latest_execution_id(spark)
        queries[key](spark, SF_SMOKE).collect()
        out[key] = executed_plan_descriptions(spark, since=since)
    return out


def test_eager_ops_executed_plans_captured(eager_executed_plans):
    """Every eager op must leave at least one executed plan in the
    status store — zero captures would mean the sweep below is
    vacuously green."""
    empty = [k for k, plans in eager_executed_plans.items() if not plans]
    assert not empty, f"no executed plans captured for: {empty}"


def test_eager_ops_no_cartesians_in_executed_plans(eager_executed_plans):
    """Cartesian sweep over what EAGER ops actually executed: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in any
    execution, unless the key carries a bounded-broadcast
    justification (EXECUTED_NESTED_LOOP / DELIBERATE_NESTED_LOOP)."""
    from distributed_mapreduce_server_spark.plans import cartesian_count_in

    offenders = []
    for key, plans in eager_executed_plans.items():
        if key in DELIBERATE_NESTED_LOOP or key in EXECUTED_NESTED_LOOP:
            continue
        if any(cartesian_count_in(p) > 0 for p in plans):
            offenders.append(key)
    assert not offenders, f"cartesian joins executed by: {offenders}"


def test_eager_ops_no_fact_scale_low_card_windows_executed(eager_executed_plans):
    """Window sweep over what EAGER ops actually executed — including
    the running-max/frontier shapes (q_events_lateness,
    q_moving_avg_events, the two-phase kernels): every executed window
    must partition by at least one non-tiny column (the kernels'
    __pid-partitioned windows pass by construction). Exemptions share
    the lazy sweep's BOUNDED_FRAME_WINDOWS list — a tiny-dim window is
    acceptable ONLY with a per-key bounded-input justification there
    (currently one eager key: stream_burst_detection's island window
    over the drained calendar-bounded hourly state)."""
    from distributed_mapreduce_server_spark.plans import window_partition_specs_in

    offenders = []
    for key, plans in eager_executed_plans.items():
        if key in BOUNDED_FRAME_WINDOWS:
            continue
        for p in plans:
            for cols in window_partition_specs_in(p):
                if (not cols) or set(cols) <= TINY_DIM_WINDOW_COLS:
                    offenders.append((key, cols))
    assert not offenders, (
        f"low-cardinality-partition windows executed over unbounded frames: {offenders}"
    )


def test_executed_sweep_catches_synthetic_offenders(spark):
    """The executed-plan sweep is LIVE, not vacuous: an eagerly-run
    unpartitioned ordered window over the events fact and an eager
    keyless fact-fact join must both be flagged post-hoc by the same
    predicates the sweeps above use."""
    from distributed_mapreduce_server_spark.catalog import load_tables
    from distributed_mapreduce_server_spark.plans import (
        cartesian_count_in,
        executed_plan_descriptions,
        latest_execution_id,
        window_partition_specs_in,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = load_tables(spark, SF_SMOKE, register_views=False)["events"]

    # offender 1: global ordered window (the single-task sort shape);
    # the action must CONSUME the window column or column pruning
    # deletes the Window node before execution
    since = latest_execution_id(spark)
    ev.withColumn("rn", F.row_number().over(Window.orderBy("ts"))).select(
        F.max("rn")
    ).collect()
    plans = executed_plan_descriptions(spark, since=since)
    flagged = [
        cols
        for p in plans
        for cols in window_partition_specs_in(p)
        if (not cols) or set(cols) <= TINY_DIM_WINDOW_COLS
    ]
    assert flagged, "sweep missed an executed unpartitioned window"

    # offender 2: keyless join of two non-trivial sides
    since = latest_execution_id(spark)
    left = ev.select("event_id")
    right = ev.select(F.col("event_id").alias("e2"))
    left.crossJoin(right).count()
    plans = executed_plan_descriptions(spark, since=since)
    assert any(cartesian_count_in(p) > 0 for p in plans), (
        "sweep missed an executed cartesian join"
    )
