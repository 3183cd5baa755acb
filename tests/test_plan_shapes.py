"""Physical-plan shape assertions — the scale posture, verified.

Correctness says the operators compute the right answer at sf0.001;
these tests say the PLANS would survive 100 TB: filters reach the
parquet scan, column pruning holds, small sides broadcast, aggregates
combine map-side, and nothing silently degenerates to a cartesian
product or an extra shuffle.
"""

from __future__ import annotations

import pytest

from sfdc_cdc_aws_spark.plans.introspect import (
    codegen_stage_count,
    exchange_count,
    has_partial_aggregate,
    join_kinds,
    lambda_bodies,
    pushed_filters,
    read_schemas,
)
from sfdc_cdc_aws_spark.registry import load_all

SF = "/root/testdata/sf0.001"

SPECS = load_all()


def _df(spark, name):
    return SPECS[name].fn(spark, SF)


def test_flagship_partial_aggregate_single_shuffle(spark):
    """cdc_latest_snapshot: max_by aggregate combines map-side and the
    plan shuffles exactly once (on the group key)."""
    df = _df(spark, "cdc_latest_snapshot")
    assert has_partial_aggregate(df)
    assert exchange_count(df) == 1


def test_tpch_q3_broadcasts_dim_and_pushes_filters(spark):
    """The selective customer dim must broadcast; the lineitem date
    filter must reach the parquet scan."""
    df = _df(spark, "tpch_q3_shipping")
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_enrich_join_broadcasts_id_set(spark):
    """The enrichment join's changed-id side is small by construction
    (BATCH_SIZE slices) — it must broadcast, mirroring the bounded
    SOQL IN-list (app.py:97)."""
    df = _df(spark, "enrich_join")
    assert "BroadcastHashJoin" in join_kinds(df)


def test_token_counts_prunes_to_text_column(spark):
    """text_token_counts projects one column; the documents scan must
    read only it (plus nothing else) — column pruning reaching the
    reader."""
    df = _df(spark, "text_token_counts")
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan with ReadSchema"
    assert all("text" in s for s in schemas)
    assert all("doc_id" not in s for s in schemas)


def test_replay_range_filter_pushed_to_scan(spark):
    """The replay-offset range predicate must push through the feed
    projection down to the events scan (partition/row-group pruning
    at scale)."""
    df = _df(spark, "replay_range_read")
    assert any("event_id" in f for f in pushed_filters(df))


def test_range_join_is_broadcast_nested_loop(spark):
    """A 10-row band table joined non-equi: broadcast nested loop is
    the right physical plan — and never a plain cartesian product."""
    df = _df(spark, "range_join_bands")
    kinds = join_kinds(df)
    assert "BroadcastNestedLoopJoin" in kinds
    assert "CartesianProduct" not in kinds


def test_exists_suite_decorrelates_to_semi_anti(spark):
    """EXISTS / NOT EXISTS must decorrelate to semi/anti joins, not
    per-row subquery execution."""
    plan = _df(spark, "exists_subquery_suite")
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    text = plan_string(plan)
    assert "LeftSemi" in text
    assert "LeftAnti" in text


def test_agg_suite_is_codegen(spark):
    """The aggregation pipeline must run inside whole-stage codegen
    spans (JVM-compiled, no interpreted rows)."""
    assert codegen_stage_count(_df(spark, "agg_suite")) >= 1


def test_tpch_q5_broadcasts_all_dims(spark):
    """Q5's four dim sides must all broadcast — the only non-broadcast
    join allowed is lineitem⋈orders — and the order-date range must
    reach the orders scan."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q5_local_supply")
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds
    assert plan_string(df).count("BroadcastHashJoin") >= 4
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_topk_numpy_is_arrow_batched(spark):
    """The BLAS top-k must run as one Arrow-batched python stage
    (MapInPandas), never row-at-a-time (BatchEvalPython)."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    plan = plan_string(_df(spark, "topk_cosine_numpy"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_rhp_lsh_never_cross_joins(spark):
    """Candidate generation is banded — the plan must contain no
    cartesian product and no broadcast nested loop over the corpus."""
    kinds = join_kinds(_df(spark, "rhp_lsh_neardup"))
    assert "CartesianProduct" not in kinds


def test_decontaminate_anti_is_broadcast(spark):
    """The contaminated-id set is small by construction; the final
    anti-join must broadcast it, and the 4-gram side must aggregate
    with a map-side partial."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "decontaminate_anti")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tfidf_aggregates_partial(spark):
    """Both tf and df aggregations must combine map-side — the shuffle
    carries (key, partial count), not raw token rows."""
    assert has_partial_aggregate(_df(spark, "tfidf_top_terms"))


def test_bucketed_join_has_no_join_shuffle(spark):
    """Both sides pre-bucketed on the join key: the sort-merge join
    must consume bucket files directly — the only exchange in the
    whole plan is the final aggregate's."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "bucketed_colocated_join")
    plan = plan_string(df)
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in join_kinds(df)
    assert exchange_count(df) == 1


def test_corpus_clean_manifest_single_shuffle(spark):
    """The composed cleaning pipeline must keep all gates narrow: its
    only exchange is the dedup window's hash partitioning — quality,
    language, and mixture filters fuse into the scan stage."""
    df = _df(spark, "corpus_clean_manifest")
    assert exchange_count(df) == 1
    assert any("text" in s for s in read_schemas(df))


def test_pack_sequences_single_shuffle(spark):
    """Packing shuffles once (groupBy source+shard co-location); the
    token counting is narrow."""
    df = _df(spark, "pack_sequences")
    assert exchange_count(df) == 1


def test_mixture_sample_no_shuffle(spark):
    """Mixture sampling is a pure map-side filter."""
    df = _df(spark, "source_mixture_sample")
    assert exchange_count(df) == 0


def test_vector_quantize_no_shuffle(spark):
    df = _df(spark, "vector_quantize_int8")
    assert exchange_count(df) == 0


def test_tpch_q6_pushes_all_filters(spark):
    """Q6 is pure scan: every range predicate must reach the parquet
    reader."""
    df = _df(spark, "tpch_q6_forecast_revenue")
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    assert has_partial_aggregate(df)


def test_tpch_q14_broadcasts_part(spark):
    df = _df(spark, "tpch_q14_promo_effect")
    assert "BroadcastHashJoin" in join_kinds(df)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_tpch_q19_factors_disjunction_into_both_scans(spark):
    """The OR-of-conjunctions mixes columns from both join sides;
    Catalyst must factor the single-side implications out so EACH scan
    gets a pushable disjunction (naive handling scans both in full)."""
    df = _df(spark, "tpch_q19_disjunctive_pushdown")
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed
    assert "p_brand" in pushed and "p_size" in pushed
    assert "BroadcastHashJoin" in join_kinds(df)


def test_tpch_q1_single_shuffle_pushed_scan(spark):
    """Q1 is scan + one map-side-partial agg: the date filter reaches
    the parquet reader and the only exchange carries ~4 group rows."""
    df = _df(spark, "tpch_q1_pricing_summary")
    assert has_partial_aggregate(df)
    assert exchange_count(df) == 1
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_tpch_q4_preaggregates_exists_probe(spark):
    """The EXISTS is decorrelated into max(l_shipdate) per orderkey
    BEFORE the join — a partial agg shrinks the probe side, instead of
    shuffling every lineitem row into a semi-join."""
    df = _df(spark, "tpch_q4_priority_exists")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_tpch_q7_broadcasts_nation_sides(spark):
    """Supplier+nation and customer+nation broadcast; the only shuffle
    join is lineitem-orders; the shipdate range is pushed."""
    df = _df(spark, "tpch_q7_volume_shipping")
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_tpch_q8_broadcasts_all_dims(spark):
    """Part, customer-in-region, and supplier-nation all broadcast:
    three broadcast joins, no cartesian, orderdate pushed."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q8_market_share")
    assert plan_string(df).count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in join_kinds(df)
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_tpch_q13_aggregates_orders_before_join(spark):
    """Orders collapse to (custkey, count) before touching customer —
    the join input is one row per customer, not one per order."""
    df = _df(spark, "tpch_q13_custdist")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_tpch_q15_window_after_aggregate(spark):
    """The max-revenue window runs over the POST-aggregation relation
    (|suppliers| rows); supplier broadcasts onto the winners."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q15_top_supplier")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan
    assert has_partial_aggregate(df)
    assert "Window" in plan


def test_tpch_q17_broadcasts_filtered_part(spark):
    """The brand/size-filtered part side broadcasts; the per-part avg
    is an aggregate-then-join with map-side partials."""
    df = _df(spark, "tpch_q17_small_qty_revenue")
    assert "BroadcastHashJoin" in join_kinds(df)
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_tpch_q22_anti_join_no_cartesian(spark):
    """Dormant-customer check is a LeftAnti on custkey; the scalar
    threshold rides a broadcast nested loop (1-row side), never a
    cartesian product."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q22_dormant_customers")
    plan = plan_string(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in join_kinds(df)


def test_chunk_overlap_no_shuffle_pruned_scan(spark):
    """Chunking is embarrassingly parallel: zero exchanges, and the
    scan reads only doc_id+text (no lang/source/n_chars)."""
    df = _df(spark, "chunk_overlap")
    assert exchange_count(df) == 0
    schemas = read_schemas(df)
    assert schemas and all("text" in s for s in schemas)
    assert all("source" not in s for s in schemas)


def test_sentence_dedup_shuffles_hashes_only(spark):
    """The shuffle carries (sent_hash, doc_id) — sentence text stays
    inside the map stage; the aggregate combines map-side."""
    df = _df(spark, "sentence_dedup")
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)


def test_winnow_window_min_jvm_side(spark):
    """Winnowing runs as JVM window machinery (no Python workers):
    lead-built shingles + ROWS-frame min, then distinct+agg."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "winnow_fingerprints")
    plan = plan_string(df)
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in join_kinds(df)


def test_tpch_q21_decorrelates_to_one_aggregate(spark):
    """Both correlated subqueries collapse into the per-order
    distinct-supplier aggregate — no per-row re-probing, supplier
    broadcasts, no cartesian."""
    df = _df(spark, "tpch_q21_sole_fault_supplier")
    assert has_partial_aggregate(df)
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_kmeans_step_partial_aggregate(spark):
    """The elementwise centroid mean must combine map-side: the
    shuffle carries k x d partial sums, not exploded vector rows."""
    df = _df(spark, "kmeans_lloyd_step")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_bigram_lm_partial_aggregates(spark):
    """Both count "training" aggregates combine map-side; the vocab
    scalar broadcasts; no cartesian beyond the 1-row vocab side."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "bigram_lm_score")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert "BroadcastNestedLoopJoin" in plan_string(df)


def test_funnel_partial_aggregates_no_cartesian(spark):
    """Every funnel stage is a map-side-partial min-aggregate joined
    on the same user key — no cartesian, no window over raw events."""
    df = _df(spark, "funnel_ordered_stages")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_cohort_retention_partial_aggregate(spark):
    df = _df(spark, "cohort_retention")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_pagerank_step_partial_aggregates(spark):
    """Degree and contribution both combine map-side over the edge
    list; only the 1-row node count broadcasts."""
    df = _df(spark, "pagerank_step")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_bm25_broadcasts_stats(spark):
    """df and the (avgdl, N) scalars broadcast; tf and dl combine
    map-side; no cartesian beyond the 1-row stats side."""
    df = _df(spark, "bm25_score")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert "BroadcastHashJoin" in join_kinds(df)


def test_tpch_q2_window_min_over_aggregated_relation(spark):
    """Q2's correlated MIN decorrelates: part filter broadcasts below
    lineitem's one grouping shuffle, the supplier->nation->region
    chain broadcasts, and the per-part min is a window over the
    post-aggregation (partsupp-sized) relation — never a re-scan."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q2_min_cost_supplier")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)
    assert "Window" in plan


def test_tpch_q9_broadcasts_dims_and_pushes_name_filter(spark):
    """Q9's five-way join: the part name-filter reaches the part scan
    as a pushed StringContains and every dim joins as broadcast (at
    sf0.001 even orders broadcasts; at scale it becomes the one
    shuffle join); the rollup combines map-side."""
    df = _df(spark, "tpch_q9_product_profit")
    assert join_kinds(df) == {"BroadcastHashJoin"}
    assert any("bolt" in f for f in pushed_filters(df))
    assert has_partial_aggregate(df)


def test_tpch_q11_scalar_threshold_broadcast(spark):
    """Q11's HAVING-vs-scalar: the grand total is a broadcast one-row
    relation over the per-part aggregate — a broadcast nested loop,
    never a cartesian product, and lineitem shuffles exactly once."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q11_important_stock")
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)
    assert "BroadcastNestedLoopJoin" in plan_string(df)


def test_tpch_q12_pushes_dates_conditional_agg(spark):
    """Q12: both shipdate bounds reach the lineitem scan (only the
    one-year slice shuffles into the big join); the CASE counters
    combine map-side."""
    df = _df(spark, "tpch_q12_ship_priority_counts")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_tpch_q16_distinct_then_anti_broadcast(spark):
    """Q16: the NOT-IN suppliers and the part predicate both
    broadcast; the distinct (partkey, suppkey) projection combines
    map-side before its one exchange."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q16_supplier_part_counts")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)


def test_tpch_q20_semi_join_gated_aggregate(spark):
    """Q20: the qualifying-supplier set reaches supplier as a LEFT
    SEMI join; the (part,supplier) aggregate computes both sums in
    one pass with map-side partials; part name-filter broadcasts."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "tpch_q20_promotable_suppliers")
    plan = plan_string(df)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)


def test_gopher_rules_map_only_pruned_scan(spark):
    """gopher_quality_rules is a map-only pass: zero exchanges, and
    the documents scan reads only doc_id+text."""
    df = _df(spark, "gopher_quality_rules")
    assert exchange_count(df) == 0
    schemas = read_schemas(df)
    assert any("text" in s and "lang" not in s and "source" not in s for s in schemas)


def test_dup_span_coverage_shuffles_hashes_only(spark):
    """dup_span_coverage's exchanges carry span hashes + doc ids, not
    text; the per-hash doc count combines map-side; no cartesian."""
    df = _df(spark, "dup_span_coverage")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in join_kinds(df)


def test_bpe_merge_step_vocab_sized_window(spark):
    """bpe_merge_step aggregates to the vocabulary before exploding
    pairs (map-side partials on the token count), and the ranking
    window runs over the tiny distinct-pair relation."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "bpe_merge_step")
    assert has_partial_aggregate(df)
    assert "Window" in plan_string(df)


def test_snapshot_diff_single_shuffle_both_epochs(spark):
    """Both snapshot epochs come out of ONE aggregation: map-side
    partials and exactly one exchange on the key — the changelog is
    scanned once, never joined against itself."""
    df = _df(spark, "snapshot_diff")
    assert has_partial_aggregate(df)
    assert exchange_count(df) == 1
    assert not join_kinds(df)


def test_tombstone_purge_single_shuffle(spark):
    df = _df(spark, "tombstone_purge_plan")
    assert has_partial_aggregate(df)
    assert exchange_count(df) == 1
    assert not join_kinds(df)


def test_file_skipping_plan_is_metadata_scale(spark):
    """The scan collapses to one row per partition at a map-side
    partial; one exchange moves the manifest, nothing else."""
    df = _df(spark, "file_skipping_plan")
    assert has_partial_aggregate(df)
    assert exchange_count(df) == 1


def test_oov_vocab_probe_is_broadcast(spark):
    """The vocab side of the coverage probe must broadcast — the
    token explode is never shuffled for the join."""
    kinds = join_kinds(_df(spark, "oov_rate"))
    assert kinds and all("Broadcast" in k for k in kinds)


def test_char_entropy_no_shuffle(spark):
    """Per-document entropy is fully narrow: zero exchanges."""
    assert exchange_count(_df(spark, "char_entropy")) == 0


def test_pq_assign_narrow_compute(spark):
    """PQ code assignment is narrow per-row compute: no join, no
    aggregate; the only exchange allowed is the deliberate widen
    repartition that spreads the single-file scan across cores."""
    df = _df(spark, "pq_assign")
    assert not join_kinds(df)
    assert not has_partial_aggregate(df)
    assert exchange_count(df) <= 1


def test_join_estimate_cheaper_than_the_join(spark):
    """The estimate's inputs are per-key count relations — both sides
    aggregate with map-side partials before the contrib join."""
    df = _df(spark, "join_cardinality_estimate")
    assert has_partial_aggregate(df)


def test_bloom_filter_join_injects_runtime_filter(spark):
    """The optimized plan must carry the injected runtime bloom
    filter: a bloom_filter_agg subquery on the selective side and a
    might_contain probe under the fact scan."""
    df = _df(spark, "bloom_filter_join")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_rfm_windows_run_on_per_user_relation(spark):
    """RFM: the event scan collapses at a map-side partial before any
    ntile window touches data — windows see users, not events."""
    df = _df(spark, "rfm_segmentation")
    assert has_partial_aggregate(df)
    assert "event_type" in str(pushed_filters(df))


def test_stats_merge_two_level_partials(spark):
    """Parallel-variance maintenance: both aggregation levels combine
    map-side; the only join is the broadcast of the 7-row yearly-mean
    relation back onto the monthly partials (the stable parallel-axis
    form sums non-negative squared deviations instead of the
    cancellation-prone moment expansion)."""
    df = _df(spark, "incremental_stats_merge")
    assert has_partial_aggregate(df)
    kinds = join_kinds(df)
    assert kinds and all("Broadcast" in k for k in kinds)


def test_triangle_enumeration_is_equi_join_only(spark):
    """Triangle counting must stay equi-join shuffles — a cartesian
    wedge product would be quadratic in edges."""
    kinds = join_kinds(_df(spark, "triangle_count"))
    assert kinds and not any("Cartesian" in k or "NestedLoop" in k for k in kinds)


def test_contrastive_mining_broadcasts_anchors(spark):
    """The anchor set must broadcast; the corpus is never shuffled for
    the scoring join."""
    kinds = join_kinds(_df(spark, "contrastive_pair_mining"))
    assert kinds and all("Broadcast" in k for k in kinds)


def test_semantic_prune_broadcasts_pivots(spark):
    """Pivot relation (one row per cell) broadcasts back onto the
    index — Σ cell comparisons, never Σ cell²."""
    kinds = join_kinds(_df(spark, "semantic_prune"))
    assert kinds and all("Broadcast" in k for k in kinds)


def test_aqe_skew_join_split_engages(spark):
    """Under the scoped skew-threshold window, AQE's OptimizeSkewedJoin
    must actually SPLIT the hot partition of the skewed fact join —
    ``SortMergeJoin(skew=true)`` in the final plan. This is the
    runtime complement to the manual ``skew_salted_join``: same hot
    key, zero salt plumbing. The fixture precondition (fact side
    widened to >1 mapper — split units are mapper ranges) is the
    100 TB-relevant lesson, documented on ``skewed_fact``."""
    from sfdc_cdc_aws_spark.operators.relational2 import AQE_SKEW_CONFS
    from sfdc_cdc_aws_spark.plans.introspect import aqe_skew_join_applied
    from sfdc_cdc_aws_spark.session import scoped_conf

    with scoped_conf(spark, AQE_SKEW_CONFS):
        df = _df(spark, "skew_aqe_join")
        assert aqe_skew_join_applied(df), (
            "OptimizeSkewedJoin did not split the hot partition"
        )


def test_zscore_stats_broadcast_back(spark):
    """zscore_outliers: the per-type stats relation broadcasts back
    onto the events scan — no fact-side shuffle for scoring."""
    df = _df(spark, "zscore_outliers")
    assert "BroadcastHashJoin" in join_kinds(df)
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)


def test_temporal_probe_join_is_equi_not_nested_loop(spark):
    """scd2_temporal_probe_join: the interval predicate must ride an
    EQUI join on (entity, uid) as a residual — never a
    broadcast-nested-loop or cartesian over probes x versions."""
    df = _df(spark, "scd2_temporal_probe_join")
    kinds = join_kinds(df)
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "CartesianProduct" not in kinds
    assert "BroadcastHashJoin" in kinds or "SortMergeJoin" in kinds


def test_sweepline_prefix_sum_is_two_level(spark):
    """concurrency_sweepline: the running sum must decompose into
    day-partitioned windows + a tiny day-offset broadcast — the
    data-proportional relation never sorts in a single partition
    (the day-level window does, but it's calendar-sized)."""
    df = _df(spark, "concurrency_sweepline")
    assert "BroadcastHashJoin" in join_kinds(df)
    assert has_partial_aggregate(df)


def test_quantile_bucketize_one_row_broadcast(spark):
    """quantile_bucketize: the three-boundary relation joins back by
    broadcast; the orders side never shuffles."""
    df = _df(spark, "quantile_bucketize")
    kinds = join_kinds(df)
    assert "BroadcastNestedLoopJoin" in kinds or "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds


def test_rolling_window_prunes_frame_inputs(spark):
    """rolling_7d_user_value: the events scan reads only the frame
    inputs (event_id/user_id/ts/value)."""
    df = _df(spark, "rolling_7d_user_value")
    schemas = read_schemas(df)
    assert schemas and all("props" not in s and "event_type" not in s for s in schemas)


def test_replay_gap_report_counts_islands_without_a_window(spark):
    """The gaps-and-islands audit must NOT contain a Window (the
    row_number() formulation's global sort); islands come from a
    shuffle-parallel anti-join."""
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    df = _df(spark, "replay_gap_report")
    plan = plan_string(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in join_kinds(df)
    assert has_partial_aggregate(df)


def test_line_dedup_prunes_scan_and_avoids_cartesian(spark):
    """line_dedup_corpus (round 10): the documents scan must read only
    (doc_id, text) — no metadata columns ride the explode — and the
    boilerplate back-join must stay a hash join on the line hash,
    never a cartesian."""
    df = _df(spark, "line_dedup_corpus")
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan with ReadSchema"
    assert all("text" in s for s in schemas)
    assert all("lang" not in s and "source" not in s for s in schemas)
    assert "CartesianProduct" not in join_kinds(df)
    assert "BroadcastNestedLoopJoin" not in join_kinds(df)


def test_bucketed_index_merge_state_branch_exchange_free(spark):
    """minhash_index_merge_bucketed (round-12): the corpus-sized state
    branch aggregates the bucketed table with NO exchange — the whole
    plan's single Exchange is the arrival delta's partial aggregate,
    so at 100 TB only the crawl shard moves."""
    df = _df(spark, "minhash_index_merge_bucketed")
    assert exchange_count(df) == 1
    from sfdc_cdc_aws_spark.plans.introspect import plan_string

    plan = plan_string(df)
    assert "SortMergeJoin" in plan
    assert "band_idx_bkt_" in plan  # the bucketed table is the state


def test_bucketed_admit_probe_only_batch_side_shuffles(spark):
    """stream_dedup_admit_bucketed's per-batch probe against the
    PARTITIONED + bucketed admit table: partition pruning keeps only
    commits < b, the index FileScan feeds the sort-merge join
    directly off its bucket files, and the only exchange is the
    (small) batch side's band rows. Mirrors the production fold after
    the round-14 hoist: band rows come from the drain-wide
    drain_bands relation sliced by the batch's doc_ids."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.plans.introspect import plan_string
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        admit_bkt_probe_plan,
        drain_bands,
        ensure_admit_bkt_table,
        ensure_admit_landing,
    )

    tbl = ensure_admit_bkt_table(spark, SF)
    landing = ensure_admit_landing(spark, SF)
    bands_all = drain_bands(spark, landing)
    batch = spark.read.parquet(landing + "/b0")
    bands_b = bands_all.join(
        F.broadcast(batch.select("doc_id")), "doc_id"
    )
    probe = admit_bkt_probe_plan(spark, bands_b, tbl, batch_id=2)
    probe.count()
    # ONE batch-side shuffle exchange: the band rows' for the
    # sort-merge join (the signature fold is hoisted out of the
    # per-batch path — drain_bands — and the doc_id slice is a
    # broadcast join). Still ZERO on the index side — that is the
    # contract this test exists to pin.
    assert exchange_count(probe) == 1
    plan = plan_string(probe)
    assert "SortMergeJoin" in plan
    # partition pruning reaches the scan: the index "as of" batch 2
    assert "commit_batch" in plan and "PartitionFilters" in plan
    # the exchange partitions on the probe's band columns, never on
    # the index side (whose scan carries the table name)
    idx_scan = [ln for ln in plan.splitlines() if "admit_bkt_" in ln]
    assert idx_scan and all("Exchange" not in ln for ln in idx_scan)


def test_bucketed_index_merge_state_table_still_builds(spark):
    """ensure_band_index_table (the index-merge aggregation's state
    table) stays read-only and buildable after the admit loop moved
    to its own partitioned table."""
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        ensure_band_index_table,
    )

    tbl = ensure_band_index_table(spark, SF)
    assert spark.table(tbl).count() > 0


def test_quartet_dup_probe_only_batch_side_shuffles(spark):
    """stream_screen_quartet's per-batch dup probe against the
    PARTITIONED + bucketed quartet index (round-13 verdict item 3):
    partition pruning keeps only commits < b, the index FileScan
    feeds the sort-merge join directly off its bucket files, and the
    only exchange is the (small) batch side's band rows."""
    from sfdc_cdc_aws_spark.operators.dedup import minhash_sig_df, sig_bands
    from sfdc_cdc_aws_spark.plans.introspect import plan_string
    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.ingest_quartet import (
        ensure_quartet_bkt_tables,
        quartet_dup_probe_plan,
    )

    tbl, _vtbl = ensure_quartet_bkt_tables(spark, SF)
    batch = (
        load_table(spark, SF, "documents")
        .where("doc_id % 4 = 0")
        .select("doc_id", "text")
    )
    bands_b = sig_bands(minhash_sig_df(batch)).select(
        "doc_id", "band_id", "bucket"
    )
    probe = quartet_dup_probe_plan(spark, bands_b, tbl, batch_id=2)
    probe.count()
    assert exchange_count(probe) == 1
    plan = plan_string(probe)
    assert "SortMergeJoin" in plan
    assert "commit_batch" in plan and "PartitionFilters" in plan
    idx_scan = [ln for ln in plan.splitlines() if "quartet_bkt_" in ln]
    assert idx_scan and all("Exchange" not in ln for ln in idx_scan)


def test_quartet_ann_probe_only_batch_side_shuffles(spark):
    """The quartet's ANN cell probe against the bucketed vector index:
    same pruning + exchange-free-index-side contract, keyed on
    cent_id."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.functions.vector import norm
    from sfdc_cdc_aws_spark.plans.introspect import plan_string
    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.ingest_quartet import (
        ensure_quartet_bkt_tables,
        quartet_ann_probe_plan,
    )

    _tbl, vtbl = ensure_quartet_bkt_tables(spark, SF)
    e = load_table(spark, SF, "embeddings").where("vec_id % 4 = 0")
    probed = e.select(
        F.col("vec_id").alias("doc_id"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        (F.col("vec_id") % 16).cast("int").alias("cent_id"),
    )
    probe = quartet_ann_probe_plan(spark, probed, vtbl, batch_id=2)
    probe.count()
    assert exchange_count(probe) <= 2  # batch-side shuffle + distinct
    plan = plan_string(probe)
    assert "SortMergeJoin" in plan
    assert "commit_batch" in plan and "PartitionFilters" in plan
    idx_scan = [ln for ln in plan.splitlines() if "quartet_vbkt_" in ln]
    assert idx_scan and all("Exchange" not in ln for ln in idx_scan)


@pytest.mark.parametrize(
    "name",
    [
        "contamination_check",
        "decontaminate_anti",
        "ngram_counts",
        "repetition_score",
        "simhash_dedup",
        "minhash_estimate_accuracy",
        "minhash_sig_df",
        "minhash_sig_agg_df",
    ],
)
def test_no_tokenizer_inside_lambda_bodies(spark, name):
    """The n-gram and signature keys tokenize each document ONCE: no
    lambda body in the optimized plan may contain the tokenizer's
    ``split(``. Catalyst does not CSE inside lambda bodies, so a
    tokenizer inlined into a per-gram (or per-bit) lambda re-splits
    the whole document once per array element. ``tokens_col``'s own
    ``filter`` lambda (``x != ''``) holds no split and passes."""
    if name.startswith("minhash_sig"):
        from sfdc_cdc_aws_spark.operators import dedup
        from sfdc_cdc_aws_spark.sources import load_table

        docs = load_table(spark, SF, "documents", widen=True)
        df = getattr(dedup, name)(docs)
    else:
        df = _df(spark, name)
    bodies = lambda_bodies(df)
    assert bodies, "expected higher-order functions in the plan"
    offenders = [b[:160] for b in bodies if "split(" in b]
    assert not offenders, offenders
