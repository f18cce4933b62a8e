"""Plan-shape audits: the scale properties SURVEY.md §4 promises, checked
against the actual physical plans (not prose). These are the '100 TB'
assertions — a regression here is a performance bug even when results
stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloudfloe_spark.plans import (
    broadcast_hint_count,
    codegen_stage_count,
    executed_plan,
    has_broadcast_join,
    has_cartesian_or_bnl,
    node_count,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from cloudfloe_spark.queries import all_queries
from cloudfloe_spark.sources.tables import load_table

CATALOG = all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select("o_orderkey")
    filters = pushed_filters(df)
    assert any("o_orderstatus" in f and "EqualTo" in f for f in filters), filters


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q")
    )
    cols = next(iter(scan_columns(df).values()))
    assert set(cols) == {"l_returnflag", "l_quantity"}, cols


def test_q3_broadcasts_dimension(spark, sf_dir):
    df = CATALOG["q3_shipping_priority"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_q5_single_fact_pass_one_agg_shuffle(spark, sf_dir):
    """At this scale all five non-fact tables broadcast (statistics-based,
    no forced hints on customer/supplier): the only Exchanges are the
    aggregation and final sort — no fact-fact shuffle join at all."""
    df = CATALOG["q5_local_supplier_volume"].fn(spark, sf_dir)
    assert node_count(df, "BroadcastHashJoin") == 5
    assert shuffle_count(df) <= 2  # partial→final agg + sort


def test_no_forced_broadcast_on_unbounded_relations(spark, sf_dir):
    """Forced broadcast hints are reserved for BOUNDED relations
    (nation=25 rows, region=5 rows, one-row global aggregates). Customer /
    supplier / part and any fact-derived aggregate must stay hint-free so
    AQE can demote the join when the build side outgrows memory — a forced
    hint is honored even at 100 TB (VERDICT r01 'What's wrong' #4)."""
    max_bounded_hints = {
        "q17_small_quantity_revenue": 0,   # per-part AVG is now a window
        "q20_top_volume_suppliers": 1,     # nation filter only
        "dedup_ngram_jaccard": 0,          # per-doc sizes join hint-free
        "q5_local_supplier_volume": 2,     # nation + region only
        "q10_returned_items": 1,           # nation only
        "q18_large_volume_customers": 0,
        "q9_product_profit": 1,            # nation only
        "join_agg_pushdown": 1,            # 25-row nation only
        "join_inner_broadcast": 1,         # 25-row nation only (r03 fix:
                                           # was a forced hint on customer)
    }
    for name, allowed in max_bounded_hints.items():
        df = CATALOG[name].fn(spark, sf_dir)
        assert broadcast_hint_count(df) <= allowed, name


def test_join_inner_broadcast_is_broadcast_hash_join(spark, sf_dir):
    """The named BroadcastHashJoin exemplar must actually plan one — and on
    the bounded dim, with zero shuffles before the aggregation."""
    df = CATALOG["join_inner_broadcast"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 1  # partial→final agg only


def test_range_join_is_hash_join_not_bnl(spark, sf_dir):
    df = CATALOG["range_join_errors_near_clicks"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df), executed_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join must cost exactly one shuffle (the
    window partitioning) — the property that makes it linear."""
    df = CATALOG["asof_last_purchase_before_click"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df)
    assert shuffle_count(df) == 1, executed_plan(df, "simple")


def test_minhash_signatures_no_agg_shuffle(spark, sf_dir):
    """Signature computation is a pure projection; the only exchange is
    the explicit spread() repartition for small-file parallelism."""
    df = CATALOG["dedup_minhash_signatures"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 1
    assert "SortMergeJoin" not in executed_plan(df, "simple")


def test_exact_dedup_partial_aggregation(spark, sf_dir):
    """Hash-groupBy dedup must partial-aggregate map-side (two
    HashAggregate levels around one Exchange), not shuffle raw rows."""
    plan = executed_plan(CATALOG["dedup_exact"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_sim_brute_force_broadcasts_queries(spark, sf_dir):
    """Brute-force top-k cosine is BY DESIGN a broadcast nested loop: the
    tiny query set broadcasts and the corpus streams through it with no
    shuffle; the rank is then pushed down as WindowGroupLimit (top-k),
    so the full score matrix never materializes."""
    df = CATALOG["sim_brute_force_topk"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "BroadcastExchange" in plan
    assert "BuildRight" in plan  # corpus side is streamed, not built
    assert "WindowGroupLimit" in plan


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    """Relational queries must compile to WholeStageCodegen subtrees."""
    for name in ("q1_pricing_summary", "agg_stats", "top_k_orders"):
        assert codegen_stage_count(CATALOG[name].fn(spark, sf_dir)) >= 1, name


def test_metadata_queries_never_scan_blobs(spark, sf_dir):
    df = CATALOG["mm_metadata_pruning"].fn(spark, sf_dir)
    for cols in scan_columns(df).values():
        assert "content" not in cols


def test_q6_all_predicates_pushed_no_join(spark, sf_dir):
    """TPC-H-Q6 is the pushdown probe: every predicate column reaches the
    parquet scan, the scan reads only the 4 referenced columns, and the
    only exchange is the single-partition gather for the global agg."""
    df = CATALOG["q6_forecast_revenue"].fn(spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    cols = next(iter(scan_columns(df).values()))
    assert set(cols) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    assert shuffle_count(df) <= 1


def test_q10_broadcasts_dims_topk(spark, sf_dir):
    """Q10: both dimensions broadcast; top-20 plans as
    TakeOrderedAndProject (no global sort materialization)."""
    df = CATALOG["q10_returned_items"].fn(spark, sf_dir)
    assert node_count(df, "BroadcastHashJoin") >= 2
    assert node_count(df, "TakeOrderedAndProject") == 1


def test_q18_having_semi_join_shape(spark, sf_dir):
    """Q18: the HAVING-IN subquery must run as an aggregate + semi join,
    customer broadcast, and the top-100 as TakeOrderedAndProject."""
    df = CATALOG["q18_large_volume_customers"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert has_broadcast_join(df)
    assert node_count(df, "TakeOrderedAndProject") == 1
    assert not has_cartesian_or_bnl(df), plan


def test_q19_single_scan_broadcast_join(spark, sf_dir):
    """Q19's three OR brackets stay one broadcast join over one lineitem
    scan — the disjunction must not explode into a union of scans."""
    df = CATALOG["q19_discounted_revenue"].fn(spark, sf_dir)
    assert node_count(df, "BroadcastHashJoin") == 1
    assert shuffle_count(df) <= 1


def test_q4_q21_correlated_exists_are_hash_joins(spark, sf_dir):
    """Correlated EXISTS/NOT EXISTS shapes (Q4, Q21) must plan as hash
    semi/anti joins on the equi key with the inequality as residual —
    never a nested-loop."""
    for name in ("q4_order_priority", "q21_waiting_suppliers"):
        df = CATALOG[name].fn(spark, sf_dir)
        assert not has_cartesian_or_bnl(df), name


def test_q17_q20_single_fact_scan(spark, sf_dir):
    """The correlated per-part aggregates are windows sharing the fact's
    hash partitioning — lineitem must appear as exactly ONE scan (the
    broadcast-the-aggregate formulation needed two and couldn't scale)."""
    for name in ("q17_small_quantity_revenue", "q20_top_volume_suppliers"):
        df = CATALOG[name].fn(spark, sf_dir)
        plan = executed_plan(df)
        assert plan.count("lineitem.parquet") == 1, name
        assert "Window" in executed_plan(df, "simple"), name


def test_pii_redact_zero_shuffle(spark, sf_dir):
    """PII scrubbing is pure per-row projection work — any Exchange in the
    plan means something regressed into a shuffle."""
    df = CATALOG["text_pii_redact"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, executed_plan(df, "simple")


def test_chunking_zero_shuffle(spark, sf_dir):
    """Document chunking is explode+slice projection work — no Exchange."""
    df = CATALOG["text_chunk_windows"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, executed_plan(df, "simple")


def test_ivf_assign_zero_corpus_shuffle(spark, sf_dir):
    """Centroid assignment is a projection against a broadcast 1-row
    codebook: the only Exchange allowed in the plan is the bounded
    centroid side's own collect_list aggregation — the CORPUS must never
    shuffle (r4 flagged the assignment flat at ~1.59 s; the groupBy
    max_by exchange was the cost)."""
    from cloudfloe_spark.queries.similarity import _ivf_assign

    df = _ivf_assign(load_table(spark, sf_dir, "embeddings"))
    plan = executed_plan(df, "simple")
    # centroid-side 1-row agg: one partial/final exchange pair max
    assert shuffle_count(df) <= 1, plan
    # no corpus-side aggregate: assignment is a HOF fold, not max_by
    assert "partial_max_by" not in plan, plan


def test_ivf_ann_corpus_crosses_one_exchange(spark, sf_dir):
    """End-to-end ANN: corpus-side plan = scan → project(assign) →
    broadcast-join(probe) → broadcast-join(queries) → ONE window
    exchange. Both corpus joins must be broadcasts — a sort-merge or
    shuffled-hash join on the corpus side means the re-rank regressed to
    shuffling 100 TB."""
    df = CATALOG["sim_ivf_ann_topk"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "Window" in plan, plan


def test_lateral_agg_decorrelates(spark, sf_dir):
    """The LATERAL correlated aggregate must decorrelate to a set-based
    aggregate + join (DecorrelateInnerQuery), not a per-row re-execution
    (which would appear as a nested-loop over the outer side)."""
    df = CATALOG["lateral_correlated_agg"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_streaming_helpers_no_forced_broadcast(spark, sf_dir):
    """stream_static_enrich must stay hint-free: a user-keyed dimension is
    unbounded, so broadcast-vs-shuffle is Spark's per-microbatch call from
    the static side's actual size, never a hard hint (VERDICT r02
    'What's wrong' #3)."""
    from cloudfloe_spark.sources.tables import load_table
    from cloudfloe_spark.streaming.windows import stream_static_enrich

    events = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS user_id", "c_name"
    )
    df = stream_static_enrich(events, dim)
    assert broadcast_hint_count(df) == 0, executed_plan(df, "simple")


def test_vec_quantize_is_zero_shuffle_projection(spark, sf_dir):
    """Quantization is a pure per-row projection: any Exchange would mean
    an accidental repartition/aggregation snuck into the hot path."""
    df = CATALOG["vec_quantize_int8"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, executed_plan(df, "simple")


def test_pack_token_shards_window_is_partitioned_not_global(spark, sf_dir):
    """The running-sum window must be PARTITIONED BY lang — a global
    (partition-less) window would serialize the whole corpus through one
    task at 100 TB. The plan's Window node carries the partition spec."""
    df = CATALOG["text_pack_token_shards"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "Window" in plan, plan
    # partition-less windows plan as 'Window [...], [ordercols]' with a
    # SinglePartition exchange; partitioned ones hashpartition on lang
    assert "hashpartitioning(lang" in plan, plan


def test_retention_cohorts_single_user_shuffle_before_agg(spark, sf_dir):
    """Cohort derivation reuses the user_id exchange for the window; only
    the distinct + final aggregation add exchanges — no self-join of
    events against a firsts table (which would scan the fact twice)."""
    df = CATALOG["events_retention_cohorts"].fn(spark, sf_dir)
    assert node_count(df, "FileScan parquet") == 1, executed_plan(df, "simple")
    assert shuffle_count(df) <= 3, executed_plan(df, "simple")


def test_profile_single_scan_not_per_column(spark, sf_dir):
    """Column profiling must compute every column's stats in ONE pass —
    the naive per-column UNION ALL (what the oracle spells) scans the
    fact N times, which a 100-TB profile cannot afford."""
    df = CATALOG["profile_numeric_columns"].fn(spark, sf_dir)
    assert node_count(df, "FileScan parquet") == 1, executed_plan(df, "simple")


def test_pq_encode_corpus_never_shuffles(spark, sf_dir):
    """PQ encoding (r5) mirrors the IVF-assignment contract: the corpus is
    encoded in a pure projection against a broadcast 1-row codebook — the
    only Exchange permitted is the bounded codebook's own collect_list
    aggregation. A corpus-side groupBy/join exchange here means encoding
    100 TB would shuffle 100 TB."""
    df = CATALOG["sim_pq_codes"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert shuffle_count(df) <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_adc_no_corpus_sort_merge_join(spark, sf_dir):
    """ADC scoring joins the corpus only against broadcast sides (codebook,
    query LUTs); the sole corpus exchange is the per-query top-k window."""
    df = CATALOG["sim_pq_adc_topk"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "Window" in plan, plan


def test_rolling_wau_is_explode_not_range_join(spark, sf_dir):
    """Rolling 7-day active users must be the linear explode construction —
    a range join of a day spine against the pair set plans as a broadcast
    nested loop whose cost is |days|×|pairs| (quadratic-ish at scale)."""
    df = CATALOG["events_rolling_active_users"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert not has_cartesian_or_bnl(df), plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_triangle_count_joins_are_hash_not_bnl(spark, sf_dir):
    """Degree orientation + wedge/closure joins must all be equi-joins
    (hash or sort-merge) — a nested-loop anywhere means the wedge space
    is being enumerated by brute force."""
    df = CATALOG["graph_triangle_count"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    # The ONLY nested-loop joins allowed are the two Cross combiners of
    # the 1-row global aggregates; every graph-side join (degrees,
    # orientation, wedges, closure) must be an equi-join.
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnl) <= 2 and all("Cross" in ln for ln in bnl), plan
    assert "CartesianProduct" not in plan, plan


def test_gapfill_filter_reaches_fact_scan(spark, sf_dir):
    """The spine gap-fill must push the date-range predicate into the
    orders scan (the 100-TB version reads 90 days, not 7 years) and join
    the bounded daily aggregate by broadcast."""
    df = CATALOG["date_spine_gapfill"].fn(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("o_orderdate" in f for f in filters), filters
    assert has_broadcast_join(df), executed_plan(df, "simple")


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """The quality gate is a pure per-row projection: zero exchanges."""
    df = CATALOG["text_gopher_quality_rules"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, executed_plan(df, "simple")


def test_semantic_dedup_broadcasts_codebook_only(spark, sf_dir):
    """SemDeDup's assignment must broadcast the K-row codebook (its only
    forced hint) and keep the within-cluster duplicate join an equi-join
    on the cluster id — a nested-loop there would be the all-pairs scan
    the clustering exists to avoid."""
    df = CATALOG["dedup_semantic_clusters"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    # One logical hint (the K-row codebook); the assignment subtree is
    # referenced three times (both dup-join sides + output), so the hint
    # shows up to three times in the executed plan.
    assert 1 <= broadcast_hint_count(df) <= 3, plan
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("Cross" in ln for ln in bnl), plan
    assert "CartesianProduct" not in plan, plan


def test_weighted_sample_is_topk_not_global_sort(spark, sf_dir):
    """A-ES weighted sampling must plan as TakeOrderedAndProject
    (per-partition heaps, k rows to the driver) — a global Sort would
    shuffle the whole fact table to rank it."""
    df = CATALOG["sample_weighted_orders"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert shuffle_count(df) == 0, plan


def test_pagerank_rounds_are_equi_joins(spark, sf_dir):
    """Every PageRank round must join ranks into the edge list by hash on
    the node id; the only nested-loop joins allowed are the 1-row
    node-count combiners."""
    df = CATALOG["graph_pagerank_iter"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    bnl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("Cross" in ln for ln in bnl), plan
    assert "CartesianProduct" not in plan, plan


def test_boilerplate_segments_shuffle_budget(spark, sf_dir):
    """Segment frequency, flag join-back, and per-doc reassembly: the
    whole pass fits in <= 5 exchanges (freq agg partial+final, join
    residency, doc agg partial+final) — anything more means the segment
    explode is being re-shuffled redundantly."""
    df = CATALOG["text_boilerplate_segments"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 5, executed_plan(df, "simple")


def test_activity_streaks_single_fact_exchange(spark, sf_dir):
    """Gaps-and-islands: the (user, day) distinct, the row_number window,
    and both re-aggregations all key on user_id — the fact table must
    cross few exchanges (distinct + window; the island re-aggs reuse the
    user prefix where Catalyst can prove it)."""
    df = CATALOG["events_activity_streaks"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 4, executed_plan(df, "simple")
    assert not has_cartesian_or_bnl(df)


def test_unigram_logprob_no_forced_vocab_broadcast(spark, sf_dir):
    """The token→vocabulary join must stay hint-free: the vocabulary is
    corpus-dependent (unbounded at web scale) — AQE may broadcast it at
    runtime when it fits, but a forced hint would pin a 100-TB-unsafe
    plan."""
    df = CATALOG["text_unigram_logprob"].fn(spark, sf_dir)
    assert broadcast_hint_count(df) == 0, executed_plan(df, "simple")


def test_mad_reuses_group_key_partitioning(spark, sf_dir):
    """Both percentile passes and the final count key on l_returnflag;
    no nested-loop joins beyond none at all — the joins are equi on the
    group key."""
    df = CATALOG["robust_outliers_mad"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df), executed_plan(df, "simple")


def test_kcore_peels_are_hash_joins(spark, sf_dir):
    """Each peel's survivor filter must be an equi-join on the node id,
    never a nested loop."""
    df = CATALOG["graph_kcore_peel"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df), executed_plan(df, "simple")


def test_centroid_classify_broadcasts_bounded_centroids(spark, sf_dir):
    """The |labels|-row centroid table is the only forced broadcast; the
    vector-mean computation must be a hash aggregate over (label, dim)
    cells, not a collect."""
    df = CATALOG["sim_centroid_classify"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert 1 <= broadcast_hint_count(df) <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_ewma_join_is_hash_on_type(spark, sf_dir):
    """The truncated-EWMA self-join runs on the time-bounded rollup and
    must be an equi-join on event_type (the band condition is residual),
    never a nested loop over the rollup."""
    df = CATALOG["events_ewma_daily_volume"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df), executed_plan(df, "simple")


def test_survival_funnel_single_corpus_scan(spark, sf_dir):
    """All three funnel stages must derive from ONE documents scan —
    re-reading the corpus per stage is the anti-pattern the DQ-check
    union exists to avoid. (Cross joins of 1-row aggregates are the
    expected combiners.)"""
    df = CATALOG["curation_survival_funnel"].fn(spark, sf_dir)
    scans = scan_columns(df)
    assert len(scans) <= 3, scans  # one logical scan, <=3 plan references


def test_document_verdict_no_bnl(spark, sf_dir):
    """The verdict composition must stay on equi-joins end to end — the
    shingle intersection is shared by the containment and Jaccard rules,
    and none of the three signal joins may degrade to a nested loop."""
    df = CATALOG["dedup_document_verdict"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df), executed_plan(df, "simple")


def test_auc_window_runs_on_bins_not_corpus(spark, sf_dir):
    """quality_auc_returns: the running-count window must consume the
    binned aggregate (|bins| rows), never the corpus — i.e. a combinable
    HashAggregate sits strictly below the Window, and there is at most
    one corpus-keyed exchange (the bin groupBy) feeding it."""
    df = CATALOG["quality_auc_returns"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert plan.index("HashAggregate") < plan.index("Window"), plan
    assert not has_cartesian_or_bnl(df)


def test_sweep_line_is_not_a_range_join(spark, sf_dir):
    """orders_open_fulfillment_sweep must stay a sweep (union + groupBy +
    bounded window) — no nested-loop/cartesian expansion against a day
    spine."""
    df = CATALOG["orders_open_fulfillment_sweep"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df)
    plan = executed_plan(df, "simple")
    assert "Union" in plan, plan


def test_cumulative_users_single_corpus_shuffle(spark, sf_dir):
    """events_cumulative_distinct_users: one corpus-sized exchange (the
    user_id MIN); day-axis aggregation and the running sum add at most
    two more bounded exchanges."""
    df = CATALOG["events_cumulative_distinct_users"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 3
    assert not has_cartesian_or_bnl(df)


def test_cluster_purity_corpus_never_crossjoined(spark, sf_dir):
    """sim_cluster_purity: the codebook assignment is the zero-shuffle
    broadcast fold — the only BNL allowed is the bounded 1-row codebook
    attach, never a corpus x corpus expansion; label attach is an
    equi-join."""
    df = CATALOG["sim_cluster_purity"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    # the 1-row codebook attach appears as a BroadcastNestedLoopJoin of a
    # single-row relation; any other nested loop is a regression
    assert plan.count("NestedLoop") <= 1, plan


def test_langid_confusion_zero_join(spark, sf_dir):
    """text_langid_confusion: classify is a per-row projection; the plan
    must contain no join at all and exactly the combinable matrix agg."""
    df = CATALOG["text_langid_confusion"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "Join" not in plan, plan
    assert shuffle_count(df) == 1  # the |langs|^2 matrix agg


def test_winsorized_mean_broadcasts_bounds(spark, sf_dir):
    """agg_winsorized_mean: the 5-row bounds frame re-joins broadcast,
    and the per-group window is the only sort."""
    df = CATALOG["agg_winsorized_mean"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian_or_bnl(df)


def test_hll_merge_shuffles_sketches_not_rows(spark, sf_dir):
    """agg_hll_mergeability_contract: the day→month merge must aggregate
    hll_union_agg partials (map-side combinable), with no join fan-out of
    the corpus — the exact-distinct yardstick is the only other
    corpus-keyed exchange."""
    df = CATALOG["agg_hll_mergeability_contract"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "hll_union_agg" in plan, plan
    assert "partial_hll_sketch_agg" in plan, plan  # day sketches combine map-side
    assert "partial_hll_union_agg" in plan, plan  # merge combines map-side too
    assert not has_cartesian_or_bnl(df)


def test_salted_agg_two_phase_in_plan(spark, sf_dir):
    """agg_salted_user_stats: the plan must show BOTH aggregation phases
    (salted partial keyed on (user_id, salt), then the merge keyed on
    user_id) — i.e. at least two hash-agg exchanges and zero joins."""
    df = CATALOG["agg_salted_user_stats"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "Join" not in plan, plan
    assert shuffle_count(df) >= 2, executed_plan(df, "simple")


def test_cohort_ltv_single_fact_join(spark, sf_dir):
    """orders_cohort_ltv: acquisition-month MIN combines map-side; the
    fact re-join is the only join; final rollup is bounded-grid."""
    df = CATALOG["orders_cohort_ltv"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert plan.count("Join") >= 1
    assert not has_cartesian_or_bnl(df)
    assert "partial_min" in plan, plan


def test_kgram_dup_rate_inverted_index_not_all_pairs(spark, sf_dir):
    """text_char_kgram_dup_rate: the candidate structure is the inverted
    index (equi-join on the gram), never a doc x doc expansion, and the
    document-frequency count partial-aggregates map-side."""
    df = CATALOG["text_char_kgram_dup_rate"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df)
    plan = executed_plan(df, "simple")
    assert "partial_count" in plan, plan


def test_pca_iterations_corpus_independent(spark, sf_dir):
    """vec_pca_top_component: after the one-pass Gram accumulation
    (lineage-capped), every iteration joins the 4096-cell grid — the
    embeddings parquet must be scanned at most once in the final plan."""
    df = CATALOG["vec_pca_top_component"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert plan.count("Scan parquet") <= 1, plan


def test_bm25_small_input_skips_persist_large_input_caches(
    spark, sf_dir, monkeypatch
):
    """text_bm25_topk (r9, VERDICT r08 #3 quantifying the r07 #6 trade):
    the tf persist is GATED on input size. At test scale (≤ the measured
    no-win range) the plan must run UNPERSISTED — no InMemoryRelation, no
    cache entry left behind — while still planning the deterministic
    invariants (TakeOrderedAndProject top-k, broadcast q-term sides).
    With the gate forced open (threshold→0, the big-corpus branch), the
    r8 shape holds: every derivation reads InMemoryTableScan, a parquet
    scan appears only INSIDE the InMemoryRelation definition, stable
    across cache-filling and cache-warm executions."""
    from cloudfloe_spark.queries import text as text_mod

    # small-input branch (the real sf dir is ~0.6 MB)
    df = CATALOG["text_bm25_topk"].fn(spark, sf_dir)
    df.collect()
    plan = executed_plan(df, "simple")
    assert "InMemoryRelation" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert has_broadcast_join(df)

    # forced-large branch: the persist path and its determinism contract
    monkeypatch.setattr(text_mod, "_BM25_PERSIST_MIN_BYTES", 0)
    try:
        for _ in range(2):
            df = CATALOG["text_bm25_topk"].fn(spark, sf_dir)
            df.collect()  # AQE: final plan exists after the plan's action
            plan = executed_plan(df, "simple")
            assert "InMemoryTableScan" in plan, plan
            first_file_scan = plan.find("Scan parquet")
            if first_file_scan != -1:
                assert 0 <= plan.find("InMemoryRelation") < first_file_scan, plan
            assert "TakeOrderedAndProject" in plan, plan
            assert has_broadcast_join(df)
    finally:
        spark.catalog.clearCache()


def test_stratified_split_one_corpus_shuffle(spark, sf_dir):
    """pipeline_stratified_split: the split stamp is a projection; the only
    corpus-width movement is the (lang, split) groupBy — the within-lang
    fraction window runs over the already-aggregated |langs|x3 rows."""
    df = CATALOG["pipeline_stratified_split"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df)
    assert shuffle_count(df) <= 2, executed_plan(df, "simple")
    plan = executed_plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan


def test_language_rebalance_broadcasts_rates(spark, sf_dir):
    """pipeline_language_rebalance: the per-lang rate table joins onto the
    corpus scan as a BROADCAST equi-join (never a shuffle of the corpus on
    lang), and both aggregations partial-combine map-side."""
    df = CATALOG["pipeline_language_rebalance"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = executed_plan(df, "simple")
    assert "partial_count" in plan, plan
    # the only BNLs are the 1-row totals cross-joins, never corpus x corpus
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan


def test_ivf_mrr_no_corpus_self_join(spark, sf_dir):
    """sim_ivf_mrr_eval: both retrieval sides broadcast the 5-row query
    set / probe table across the corpus — the corpus must never appear on
    both sides of a non-broadcast join, and rank pushdown must trim the
    exact side (WindowGroupLimit)."""
    df = CATALOG["sim_ivf_mrr_eval"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_scd2_join_is_single_shuffle_asof(spark, sf_dir):
    """scd2_point_in_time_tier composes from the as-of primitive: union +
    one (user, ts) shuffle-sort — never an interval-expansion join."""
    df = CATALOG["scd2_point_in_time_tier"].fn(spark, sf_dir)
    assert not has_cartesian_or_bnl(df)
    plan = executed_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "Union" in plan, plan  # the as-of union construction


def test_hybrid_rrf_fusion_runs_on_truncated_lists(spark, sf_dir):
    """hybrid_rrf_retrieval: both rankings truncate to depth 50 BEFORE
    the fusion join (GlobalLimit above each side), the dense side
    broadcasts the single query vector, and the final top-15 never sorts
    the corpus."""
    df = CATALOG["hybrid_rrf_retrieval"].fn(spark, sf_dir)
    plan = executed_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("GlobalLimit") >= 2 or plan.count("TakeOrdered") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_variant_typed_pushdown_plan_has_no_python(spark, sf_dir):
    """r13 (VERDICT r12 #2): the typed-only shredded catalog entry's
    plan must contain ZERO Python stages — every variant_get is served
    by a native typed_value subcolumn projection, and the scan prunes
    to exactly the typed leaves."""
    df = CATALOG["iceberg_variant_typed_pushdown"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "ArrowEvalPython" not in plan, plan
    assert "pythonudf" not in plan.lower(), plan
    flat = plan.replace(" ", "")
    assert "typed_value" in flat  # the native subfield path is read


def test_geometry_bbox_blobs_never_shuffle(spark, sf_dir):
    """r13: the WKB envelope aggregation decodes blobs BEFORE the only
    exchange — the shuffle carries (lang, 4-double partials), never
    geometry bytes."""
    df = CATALOG["iceberg_geometry_bbox_scan"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "ArrowEvalPython" in plan, plan
    # partial aggregation sits between the decode and the exchange:
    # in the numbered formatted plan the Arrow decode node is BELOW
    # (appears after) the Exchange node in the tree listing
    tree = plan.split("\n\n")[0]
    assert tree.index("Exchange") < tree.index("ArrowEvalPython"), tree


def test_variant_dml_scan_is_exchange_free(spark, sf_dir):
    """r13: the post-DML variant scan is a pure projection — one Arrow
    decode pass, zero exchanges (deletes apply as broadcast anti-joins
    against coordinate sets, never row shuffles)."""
    df = CATALOG["iceberg_variant_dml_scan"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert shuffle_count(df) == 0, plan
    assert not has_cartesian_or_bnl(df), plan


def test_haversine_nearest_is_jvm_only_single_exchange(spark, sf_dir):
    """geo_haversine_nearest (r15): the 8-city classify is an array
    literal folded per row — trig + argmin key all inside codegen, NO
    Python eval node, no join, and the only exchange is the final
    combinable per-city aggregate."""
    df = CATALOG["geo_haversine_nearest"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # the oracle's 8x cross join never happens
    # exchanges: spread()'s core fan-out + the one agg shuffle, nothing
    # data-dependent
    assert shuffle_count(df) <= 2, plan
    assert "partial_count" in plan or "partial_min" in plan, plan


def test_q21_single_lineitem_exchange_before_window(spark, sf_dir):
    """r15 optimization: q21 repartitions on l_orderkey ALONE before the
    (orderkey, suppkey) aggregate, so one REPARTITION_BY_COL exchange
    serves both the two-key groupBy and the order-partitioned window —
    the r14 shape paid a second hashpartitioning(l_orderkey) exchange
    between them."""
    df = CATALOG["q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "REPARTITION_BY_COL" in plan, plan
    # no exchange keyed on the two-column aggregate key anywhere
    assert "hashpartitioning(l_orderkey" in plan, plan
    import re

    two_key = re.search(r"hashpartitioning\(l_orderkey#\d+L,\s*l_suppkey", plan)
    assert two_key is None, plan


def test_curation_summary_min_by_no_text_window(spark, sf_dir):
    """r15 optimization: the curation pipeline's exact-dedup reduction is
    a map-side-combinable min_by over (fp, doc_id, quality, lang) — the
    r14 shape shuffled the FULL document text through a fingerprint
    window. Pins: no Window node, a partial min_by combiner, and no
    `text` column crossing any exchange."""
    df = CATALOG["curation_pipeline_summary"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "Window" not in plan, plan
    assert "min_by" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "text#" not in line, line


def test_decode_media_boundary_carries_three_columns(spark, sf_dir):
    """r15 optimization (guide §4.1): decode_media ships only
    (doc_id, media_type, content) across the Python boundary —
    mapInPandas is opaque to Catalyst, so without the explicit select the
    uri/format/size columns would be Arrow-serialized into the worker
    and dropped there."""
    from cloudfloe_spark.functions.multimodal import (
        decode_media,
        with_fake_media,
    )

    import re

    docs = load_table(spark, sf_dir, "documents")
    df = decode_media(with_fake_media(docs))
    plan = executed_plan(df)
    # the detail section: "(n) MapInPandas\nInput [k]: [...]"
    m = re.search(r"\(\d+\) MapInPandas\nInput \[(\d+)\]: \[([^\]]*)\]", plan)
    assert m, plan
    n_cols, cols = int(m.group(1)), m.group(2)
    assert n_cols == 3, plan
    assert "content#" in cols and "media_type#" in cols and "doc_id#" in cols, cols
    assert "uri#" not in cols and "size_bytes#" not in cols, cols


def test_copurchase_edges_single_order_key_shuffle(spark, sf_dir):
    """r16 optimization: the co-purchase subtree hash-partitions (ok, pk)
    on the ORDER KEY before the distinct — subset-key clustering lets the
    dedup, both self-join sides and the join ride that one shuffle. Pins:
    REPARTITION_BY_COL on ok, and no ENSURE_REQUIREMENTS exchange keyed
    on (ok, pk) (the naive distinct's shuffle) anywhere in the plan."""
    import re

    from cloudfloe_spark.queries.graph_metrics import _copurchase_edges

    df = _copurchase_edges(spark, sf_dir)
    plan = executed_plan(df)
    assert "REPARTITION_BY_COL" in plan, plan
    assert re.search(r"hashpartitioning\(ok#\d+L, \d+\)", plan), plan
    two_key = re.search(r"hashpartitioning\(ok#\d+L,\s*pk#", plan)
    assert two_key is None, plan


def test_position_delete_side_is_not_deduplicated(spark, tmp_path):
    """The delete side of a position-delete scan feeds only a LEFT ANTI
    join, which repeated keys cannot change: no aggregate and no hash
    shuffle to deduplicate it."""
    import pyarrow as pa

    from cloudfloe_spark.service.iceberg_local import resolve_iceberg_reads
    from cloudfloe_spark.sources import iceberg_meta as im
    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable

    root = str(tmp_path / "t")
    t = LocalIcebergTable(root, pa.schema([("id", pa.int64())]))
    t.append_snapshot([pa.table({"id": [1, 2, 3]})], timestamp_ms=1)
    target = im.live_data_paths(root, im.resolve_snapshot(root))[0]
    t.position_delete_snapshot([(target, 0), (target, 2)], timestamp_ms=2)
    sess = spark.newSession()
    df = sess.sql(
        resolve_iceberg_reads(sess, f"SELECT id FROM iceberg_scan('{root}')")
    )
    assert [r.id for r in df.collect()] == [2]
    plan = executed_plan(df)
    assert "LeftAnti" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
