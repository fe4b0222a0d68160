"""Plan-shape regression tests: the physical plans that make the
engine scale must stay that shape (SURVEY.md §4 design rules).
A correctness-preserving change that, e.g., loses filter pushdown
would silently 100x the IO at 100 TB — these assertions catch it."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from file_appender_spark.queries import QUERIES
from file_appender_spark.queries.registry import build_fresh


def plan_of(spark, sf_dir, name: str) -> str:
    # build_fresh, not spark_fn: the registry memoizes DataFrames, and
    # an earlier test executing the shared object lets AQE finalize its
    # executedPlan in place — static shape assertions need a fresh one
    df = build_fresh(spark, sf_dir, name)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_parquet(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q01_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    # only the 7 needed columns reach the scan, not all 11
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_q05_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_join_inner")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q25_topk_becomes_window_group_limit(spark, sf_dir):
    # rank<=k filters rewrite to per-partition top-k before the shuffle
    plan = plan_of(spark, sf_dir, "q25_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_q26_order_limit_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q26_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_q12_band_join_broadcasts_tiny_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q12_join_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_q54_query_side_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q54_similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


CARTESIAN_ALLOWED = {
    # deliberate exact all-pairs semantics at test scale (scale paths
    # documented in operators/similarity.py) or tiny broadcast sides
    "q11_join_cross",
    "q54_similarity_topk",
    "q62_embedding_neardup",
}


def test_no_accidental_cartesian_products(spark, sf_dir):
    """Sweep EVERY registered query's physical plan: a cartesian
    product that isn't a declared all-pairs semantic is a scale bug."""
    offenders = []
    for name in QUERIES:
        plan = plan_of(spark, sf_dir, name)
        if "CartesianProduct" in plan and name not in CARTESIAN_ALLOWED:
            offenders.append(name)
    assert not offenders, offenders


def test_no_collect_in_query_paths(spark, sf_dir):
    """Every registered query builds a DataFrame plan without driver
    materialization (blocked_topk's query-side collect is operator-
    level and bounded by contract)."""
    for name, spec in QUERIES.items():
        df = spec.spark_fn(spark, sf_dir)
        assert df is not None and df.columns, name


# --- training-data curation tranche (queries/pipeline.py) ---------------


def test_q67_split_is_single_agg_shuffle(spark, sf_dir):
    """The md5 split itself is stateless: the ONLY exchange in the
    plan is the final (lang, split) aggregation."""
    plan = plan_of(spark, sf_dir, "q67_hash_split")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_q68_packing_window_is_per_shard(spark, sf_dir):
    """Prefix-sum window hash-partitions by the shard key; a global
    (range-partitioned) sort would serialize packing at scale."""
    plan = plan_of(spark, sf_dir, "q68_pack_sequences")
    assert "Window" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q69_pii_mask_has_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q69_pii_mask")
    assert "Exchange" not in plan


def test_q72_rate_table_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q72_stratified_sample")
    assert "BroadcastHashJoin" in plan


def test_q74_ivf_candidates_are_equi_join(spark, sf_dir):
    """IVF candidate generation must be a hash equi-join on the cell
    id — nested-loop here would reintroduce the brute-force scan the
    cells exist to avoid."""
    plan = plan_of(spark, sf_dir, "q74_ann_ivf_cell")
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_q75_chunking_has_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q75_chunk_docs")
    assert "Exchange" not in plan


# --- profiling / event-analytics tranche (queries/profiling.py) ---------


def test_q79_profile_is_single_scan(spark, sf_dir):
    """All five columns' stats come from ONE scan of customer: the
    multi-count(distinct) plans as a single Expand, not N scans."""
    plan = plan_of(spark, sf_dir, "q79_profile_columns")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_q81_funnel_windows_share_one_sort(spark, sf_dir):
    """The three dependent funnel windows use the same partition+order
    spec, so Spark stacks them on one Exchange + one Sort; a plan with
    three sorts would re-sort the events table twice for nothing."""
    plan = plan_of(spark, sf_dir, "q81_event_funnel")
    assert plan.count("Window") == 3
    assert plan.count("Sort") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_q80_cohort_has_no_self_join(spark, sf_dir):
    """First-seen via window min, not an aggregate self-joined back:
    no join operator anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "q80_cohort_retention")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_q83_q5_shape_broadcasts_dims_no_nlj(spark, sf_dir):
    """Six-table join must stay all-equi: dims broadcast, and the
    c_nationkey = s_nationkey cross-filter rides the supplier join
    instead of degenerating into a nested loop."""
    plan = plan_of(spark, sf_dir, "q83_local_supplier_volume")
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan


def test_q84_exists_is_semi_join(spark, sf_dir):
    """EXISTS compiles to a LEFT SEMI equi-join with the date
    comparison as residual — never a per-order subquery scan."""
    plan = plan_of(spark, sf_dir, "q84_priority_exists")
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_q87_rate_derivation_broadcasts_back(spark, sf_dir):
    """The derived rate table must broadcast; the corpus-side
    rebalance is a map-side filter, not a corpus shuffle."""
    plan = plan_of(spark, sf_dir, "q87_mixture_rebalance")
    assert "BroadcastHashJoin" in plan


def test_q88_quantize_has_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q88_embedding_quantize")
    assert "Exchange" not in plan


def test_q89_incremental_dedup_is_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q89_incremental_dedup")
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_q91_unpivot_is_single_scan_expand(spark, sf_dir):
    """unpivot must be one scan + Expand; the UNION ALL spelling
    would read lineitem three times."""
    plan = plan_of(spark, sf_dir, "q91_unpivot_measures")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_q92_lateral_decorrelates_to_window_limit(spark, sf_dir):
    """The LATERAL ORDER BY/LIMIT must decorrelate — per-outer-row
    subquery execution would be O(customers) scans."""
    plan = plan_of(spark, sf_dir, "q92_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan


def test_q94_variant_parses_in_projection(spark, sf_dir):
    """VARIANT extraction stays a stateless projection feeding a
    5-group aggregate — no shuffle beyond the tiny agg exchange."""
    plan = plan_of(spark, sf_dir, "q94_variant_extract")
    assert plan.count("Exchange") <= 2
    assert "variant_get" in plan or "VariantGet" in plan.lower() or "parse_json" in plan


def test_q97_regression_is_one_pass_agg(spark, sf_dir):
    """The regr_*/corr/covar family must plan as ONE partial+final
    aggregate over a single scan — a naive mean-then-residual spelling
    would scan lineitem twice and join the means back."""
    plan = plan_of(spark, sf_dir, "q97_regression")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_q98_decile_window_is_per_partition(spark, sf_dir):
    """ntile partitions by priority: the plan must sort within hash
    partitions, never collapse to a single partition (a global ntile
    would serialize the whole table through one task)."""
    plan = plan_of(spark, sf_dir, "q98_decile_stats")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Sort") == 1
    assert "Window" in plan


def test_q99_bm25_corpus_stats_broadcast(spark, sf_dir):
    """The 1-row (N, avgdl) corpus aggregate must broadcast; the
    tf-df join stays a shuffle on term."""
    plan = plan_of(spark, sf_dir, "q99_bm25")
    assert "BroadcastExchange" in plan


def test_q100_mad_stats_join_back_broadcasts(spark, sf_dir):
    """Every stats join-back (median, MAD, and the recomputed dev
    branch feeding the MAD aggregate) broadcasts the 5-row table —
    a sort-merge join here would shuffle customer for a dimension
    that fits in one packet."""
    plan = plan_of(spark, sf_dir, "q100_mad_outliers")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_q102_percentiles_share_the_window_exchange(spark, sf_dir):
    """The lead() window is the only data-sized shuffle; the discrete
    percentile aggregate adds one tiny exchange to <=5 groups. No
    global sort anywhere."""
    plan = plan_of(spark, sf_dir, "q102_arrival_percentiles")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan


def test_q103_union_is_zero_shuffle(spark, sf_dir):
    """unionByName must plan as a plain Union of two scans with
    null-padding projections — no exchange on either input; only the
    final aggregate shuffles."""
    plan = plan_of(spark, sf_dir, "q103_union_by_name")
    assert "Union" in plan
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_q104_quality_checks_fuse_and_fk_is_anti_join(spark, sf_dir):
    """All five constraint counters ride ONE orders scan (conditional
    aggregates + Expand for the exact count-distinct); the FK check
    compiles to a LeftAnti equi-join on the pruned key column."""
    plan = plan_of(spark, sf_dir, "q104_quality_report")
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "", 1)
    # orders scanned twice total: once for the fused agg, once for FK
    assert plan.count("Scan parquet") == 3  # orders x2 + customer keys


def _pair_graph_build_plan(spark, docs, monkeypatch):
    """The pair-store build's candidate + verify frame, unexecuted: the
    real build_pair_graph with its epoch writes captured instead of
    run."""
    from file_appender_spark.operators import pairstore

    frames = {}
    monkeypatch.setattr(
        pairstore, "rebuild_table_store", lambda store, d, params, write: write()
    )
    monkeypatch.setattr(
        pairstore,
        "write_table_epoch",
        lambda df, d, table, epoch: frames.setdefault(table, df),
    )
    monkeypatch.setattr(pairstore, "refresh_clusters", lambda spark, d: None)
    pairstore.build_pair_graph(spark, docs, "unused-store")
    return frames["pairs"]


def _candidate_stage_frame(spark, sf_dir, monkeypatch, op):
    from file_appender_spark.operators import imagehash
    from file_appender_spark.operators.similarity import srp_neardup
    from file_appender_spark.operators.wjaccard import icws_neardup_pairs
    from file_appender_spark.queries.llm import _minhash_lsh
    from file_appender_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    if op in ("q52", "q136"):
        name = {"q52": "q52_minhash_lsh", "q136": "q136_minhash_calibration"}[op]
        return build_fresh(spark, sf_dir, name)
    if op == "curate_pairs":
        return _minhash_lsh(docs).filter(F.col("jac") >= 0.2).select("d1", "d2")
    if op == "srp":
        return srp_neardup(load_table(spark, sf_dir, "embeddings"), threshold=0.4)
    if op in ("ahash", "dhash"):
        img = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
        fn = getattr(imagehash, f"{op}_neardup")
        return fn(img, "doc_id", "payload", max_hamming=8, band_bucket_cap=5)
    if op == "icws":
        return icws_neardup_pairs(docs, threshold=0.5)
    return _pair_graph_build_plan(spark, docs, monkeypatch)


# a hash or sort-merge join keyed on the band index AND the band value
_BAND_EQUI_JOIN = re.compile(
    r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) "
    r"\[(band|bi)#\d+, (sig|bh|bv)#\d+L?\], \[(band|bi)#\d+, (sig|bh|bv)#\d+L?\]"
)


@pytest.mark.parametrize(
    "op",
    ["q52", "q136", "curate_pairs", "srp", "ahash", "dhash", "icws", "pairstore_build"],
)
def test_band_candidate_stage_is_equi_join(spark, sf_dir, monkeypatch, op):
    """Every operator on operators/lsh.band_pairs generates candidates
    by an equi-join on the band keys — an all-pairs cross join is
    exactly the plan shape banded LSH exists to avoid. The SRP
    signature stage stays one Arrow pass."""
    df = _candidate_stage_frame(spark, sf_dir, monkeypatch, op)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _BAND_EQUI_JOIN.search(plan), plan
    if op == "srp":
        assert "MapInArrow" in plan


def test_ann_sign_ivf_candidates_are_equi_join(spark, sf_dir):
    """The parameterized IVF keeps q74's join strategy: candidates
    from an equi-join on the cell id, whatever the cell count."""
    from file_appender_spark.operators.similarity import ann_sign_ivf
    from file_appender_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    plan = (
        ann_sign_ivf(emb, queries, k=3, target_cell_size=64, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # corpus cells, query cells and candidate scoring: one Arrow pass each
    assert plan.count("MapInArrow") == 3


# ---- round-3 plan contracts -------------------------------------------------


def test_q118_pmi_df_tables_broadcast(spark, sf_dir):
    """Document-frequency and corpus-count join-backs must broadcast;
    the only shuffles belong to the pair groupBy."""
    plan = plan_of(spark, sf_dir, "q118_pmi_cooccur")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q121_power_iteration_combines_map_side(spark, sf_dir):
    """The Gram product must reduce via partial aggregation (map-side
    combine to |dims| groups) — never shuffle raw posexploded rows."""
    plan = plan_of(spark, sf_dir, "q121_power_iteration")
    assert "partial_sum" in plan.lower() or "Partial" in plan
    assert "CartesianProduct" not in plan


def test_q137_windows_share_one_user_shuffle(spark, sf_dir):
    """Both windows (first-occurrence flag + running sum) partition by
    user_id — exactly one hashpartitioning exchange on user_id-rooted
    keys, no join."""
    plan = plan_of(spark, sf_dir, "q137_running_distinct")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # (user,type) + (user)


def test_q139_three_rank_functions_one_window_operator(spark, sf_dir):
    """percent_rank / cume_dist / ntile share one WindowSpec — the
    plan must contain a single Window operator (one sort, one pass)."""
    plan = plan_of(spark, sf_dir, "q139_rank_fractions")
    assert plan.count("Window") - plan.count("WindowGroupLimit") >= 1
    # one logical window evaluation: no second sort on the same keys
    assert plan.count("Sort ") <= 2


def test_q43_blocked_path_plan_is_equi_join(spark, sf_dir):
    """q43 now runs the PassJoin blocked path: candidates must come
    from an equi-join (SortMergeJoin/ShuffledHashJoin/Broadcast on the
    segment key), never a nested-loop over all pairs."""
    plan = plan_of(spark, sf_dir, "q43_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q154_scorer_is_zero_shuffle(spark, sf_dir):
    """The hashed-feature score is a per-row fold: any Exchange here
    means the plan regressed to an explode+groupBy."""
    plan = plan_of(spark, sf_dir, "q154_quality_classifier")
    assert "Exchange" not in plan


def test_q158_pq_encode_is_zero_shuffle_scan(spark, sf_dir):
    """PQ encode must stay an embarrassingly parallel projection over
    literal codebooks — no join against a codebook table, no shuffle."""
    plan = plan_of(spark, sf_dir, "q158_pq_encode")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q155_verify_count_broadcasts_candidates(spark, sf_dir):
    """The exact-verify join must broadcast the bounded MG candidate
    set (partitions x k rows) — shuffling the full token stream
    against it would erase the operator's point."""
    plan = plan_of(spark, sf_dir, "q155_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q153_and_q156_no_cartesian(spark, sf_dir):
    """Dup-span join-back and within-cell pair generation are
    equi-joins on hash/cell keys — never nested-loop."""
    for name in ("q153_dup_ngram_spans", "q156_semantic_dedup"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


# --------------------------------------------------------------------------
# round 6: TPC-H completion shapes + tranche plan contracts
# --------------------------------------------------------------------------


def test_q187_pair_filter_pushes_and_dims_broadcast(spark, sf_dir):
    """Q7 shape: the two-year shipdate predicate must reach the
    lineitem scan, the nation/supplier dims must broadcast, and the
    symmetric pair disjunction must never degrade to a nested loop."""
    plan = plan_of(spark, sf_dir, "q187_volume_shipping")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q188_region_and_type_filters_cut_broadcast_sides(spark, sf_dir):
    """Q8 shape: p_type and r_name are dim-side scan filters (pushed),
    never post-join residuals over the fact."""
    plan = plan_of(spark, sf_dir, "q188_market_share")
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "CartesianProduct" not in plan


def test_q189_part_like_filter_pushes_to_dim_scan(spark, sf_dir):
    """Q9 shape: the substring part filter must sit on the part scan
    (StringContains pushdown), with part broadcast into the fact."""
    plan = plan_of(spark, sf_dir, "q189_product_profit")
    assert "StringContains(p_name,g)" in plan
    assert "BroadcastHashJoin" in plan


def test_q190_priority_predicate_inside_outer_join(spark, sf_dir):
    """Q13 shape: the orders-side priority filter must prune the
    orders SCAN (join-side predicate), not filter after the left
    join — post-join filtering would destroy the c_count=0 class."""
    plan = plan_of(spark, sf_dir, "q190_customer_distribution")
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_q191_lm_joins_are_equi_no_cartesian(spark, sf_dir):
    """Bigram-LM scoring: counts join back to the bigram stream by
    token keys; the scalar V rides a 1-row broadcast."""
    plan = plan_of(spark, sf_dir, "q191_bigram_lm_score")
    assert "CartesianProduct" not in plan


def test_q192_gopher_is_zero_shuffle(spark, sf_dir):
    """The admission gate is per-row expression work; the only
    allowed exchange is the presentation ORDER BY's range partition."""
    plan = plan_of(spark, sf_dir, "q192_gopher_rules")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1  # the final sort only


def test_q193_t_closeness_grid_is_broadcast(spark, sf_dir):
    """The dense QI x band grid composes broadcasts of the bounded
    dom/tot/m sides — no sort-merge join anywhere."""
    plan = plan_of(spark, sf_dir, "q193_t_closeness")
    assert "SortMergeJoin" not in plan


def test_q194_skyline_level_join_broadcasts(spark, sf_dir):
    """The join back from price levels to parts must broadcast the
    level table; dominance never evaluates as a nested loop."""
    plan = plan_of(spark, sf_dir, "q194_pareto_frontier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q196_median_window_is_user_partitioned(spark, sf_dir):
    """The frame window must partition by user_id — a global window
    here would single-partition the whole event stream."""
    plan = plan_of(spark, sf_dir, "q196_running_median")
    assert "partitionBy=[user_id]" in plan or "user_id" in plan.split("Window")[1][:200]


def test_dynamic_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """DPP coverage: joining a partitioned fact against a filtered dim
    must inject a dynamicpruning subquery on the partition column so
    only matching partitions are scanned at runtime."""
    import os

    out = str(tmp_path / "orders_by_status")
    from file_appender_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # the dim filter sits on a DIFFERENT column than the join key, so
    # the surviving status values are unknowable statically (a filter
    # on the key itself gets constraint-propagated into a STATIC
    # partition filter — no DPP needed, verified) — runtime pruning is
    # the only way to skip partitions here
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderstatus")
        .distinct()
    )
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        j = fact.join(dim, "o_orderstatus").groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        n = j.count()
        assert n >= 1
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)


# ---------------------------------------------------------------------------
# round-6 tranche 7 (TPC-H shape adaptations q203-q208)
# ---------------------------------------------------------------------------


def test_q203_dim_filters_push_and_broadcast(spark, sf_dir):
    """Q2 shape: region/part predicates are scan filters, every dim
    broadcasts, and the min re-join never degrades to a nested loop."""
    plan = plan_of(spark, sf_dir, "q203_min_cost_supplier")
    assert "EqualTo(r_name,EUROPE)" in plan
    assert "GreaterThanOrEqual(p_size,20)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q204_scalar_subquery_is_single_onerow_broadcast(spark, sf_dir):
    """Q11 shape: the global total rides ONE 1-row broadcast nested
    loop (the declared scalar-subquery spelling); everything else is
    hash joins — no second pass over partsupp."""
    plan = plan_of(spark, sf_dir, "q204_important_stock")
    assert "EqualTo(r_name,ASIA)" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_q205_year_window_pushes_to_lineitem_scan(spark, sf_dir):
    """Q12 shape: the one-year shipdate range must reach the lineitem
    scan; the cross-column lag predicate is join-level by nature."""
    plan = plan_of(spark, sf_dir, "q205_late_ship_priority")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_q206_not_in_is_broadcast_anti_join(spark, sf_dir):
    """Q16 shape: the NOT IN exclusion plans as a broadcast LeftAnti
    (keys non-null), and the IN size-list pushes into the part scan."""
    plan = plan_of(spark, sf_dir, "q206_supplier_part_counts")
    assert "LeftAnti" in plan
    # the part predicates sit on the scan (the filter list prints
    # truncated, so assert the brand term that survives elision)
    assert "Brand#13" in plan
    assert "CartesianProduct" not in plan


def test_q207_semi_join_chain(spark, sf_dir):
    """Q20 shape: the nested IN subqueries plan as LeftSemi joins and
    the part-name prefix filter pushes into the part scan."""
    plan = plan_of(spark, sf_dir, "q207_excess_stock_suppliers")
    assert "LeftSemi" in plan
    assert "StringStartsWith(p_name,large)" in plan
    assert "CartesianProduct" not in plan


def test_q208_decorrelated_no_self_join_pair(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT-EXISTS pair is decorrelated into one
    per-order distinct aggregate — the plan must carry the status
    pushdown and NO nested-loop/cartesian self-joins; the distinct
    aggregate over (supplier, late-supplier) is the whole mechanism."""
    plan = plan_of(spark, sf_dir, "q208_sole_late_supplier")
    assert "EqualTo(o_orderstatus,F)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Spark plans the two countDistincts as one Expand + two-phase count
    assert "Expand" in plan


# ---------------------------------------------------------------------------
# round-6 tranche 8 (sequence analytics + corpus mining q209-q214)
# ---------------------------------------------------------------------------


def test_q209_streak_window_is_user_partitioned(spark, sf_dir):
    """Gaps-and-islands: the rank window must partition by user —
    a global sort here would funnel the event stream through one
    partition."""
    plan = plan_of(spark, sf_dir, "q209_activity_streaks")
    assert "partitionBy=[user_id" in plan or (
        "Window" in plan and "user_id" in plan.split("Window")[1][:200]
    )


def test_q210_acf_joins_stay_bounded(spark, sf_dir):
    """ACF: the lag table is a 7-row broadcast and the series self
    join is day-level — nothing may evaluate as a cartesian product."""
    plan = plan_of(spark, sf_dir, "q210_daily_acf")
    assert "CartesianProduct" not in plan


def test_q211_cusum_scalars_broadcast(spark, sf_dir):
    """CUSUM: the total and max scalars ride 1-row broadcasts back
    onto the day-level frame."""
    plan = plan_of(spark, sf_dir, "q211_cusum_changepoint")
    assert "CartesianProduct" not in plan
    # two declared 1-row scalars; the total's subtree prints twice
    # because the max derives from the already-joined cus frame
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_q212_g2_marginals_join_by_key(spark, sf_dir):
    """Dunning G2: source totals broadcast, token totals join on the
    token key, the grand total is the one declared 1-row broadcast."""
    plan = plan_of(spark, sf_dir, "q212_dunning_keywords")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan


def test_q213_triangles_are_equi_joins(spark, sf_dir):
    """Clustering coefficient: triangle enumeration is two equi-joins
    on vertex keys — never a nested loop over the edge list."""
    plan = plan_of(spark, sf_dir, "q213_clustering_coefficient")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q214_novelty_single_gram_join(spark, sf_dir):
    """Novelty curve: one equi-join on the gram hash; grams travel as
    md5 (no raw text in the shuffle)."""
    plan = plan_of(spark, sf_dir, "q214_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# round-6 tranche 9 (inference statistics + curation planning q215-q220)
# ---------------------------------------------------------------------------


def test_q215_rank_window_is_distinct_value_level(spark, sf_dir):
    """Mann-Whitney: no global per-row sort — the only window runs
    over the distinct-length aggregate, and no join exists at all."""
    plan = plan_of(spark, sf_dir, "q215_mann_whitney")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q216_wilson_is_one_aggregate_plus_rank(spark, sf_dir):
    """Wilson ranking: one source aggregate, one |sources|-row rank
    window — no joins."""
    plan = plan_of(spark, sf_dir, "q216_wilson_source_rank")
    assert "Join" not in plan


def test_q217_overlap_joins_on_gram_hash(spark, sf_dir):
    """Source overlap: the self-join is an equi-join on the gram md5
    (never a nested loop); marginals broadcast."""
    plan = plan_of(spark, sf_dir, "q217_source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q218_km_horizon_is_onerow_broadcast(spark, sf_dir):
    """Kaplan-Meier: the horizon scalar rides one 1-row broadcast;
    the user join is an equi left join."""
    plan = plan_of(spark, sf_dir, "q218_kaplan_meier")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q220_session_windows_are_user_partitioned(spark, sf_dir):
    """Dwell stats: sessionization windows partition by user; the
    median windows partition by entry type — nothing global."""
    plan = plan_of(spark, sf_dir, "q220_session_dwell")
    assert "windowspecdefinition(user_id" in plan
    assert "windowspecdefinition(entry_type" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round-6 tranche 10 (robust statistics + dataset management q221-q226)
# ---------------------------------------------------------------------------


def test_q221_pair_join_is_day_level(spark, sf_dir):
    """Theil-Sen: the O(days²) pair join is the DECLARED day-level
    nested loop — each side is the day aggregate (Spark materializes
    it from its own scan, so two scans feed two tiny aggregates; the
    pair join itself never touches raw events)."""
    plan = plan_of(spark, sf_dir, "q221_theil_sen")
    assert plan.count("Scan parquet") <= 2
    assert "BroadcastNestedLoopJoin" in plan  # day-frame pair join
    assert plan.count("HashAggregate") >= 2  # both sides pre-aggregated


def test_q222_rank_joins_are_equi(spark, sf_dir):
    """Spearman: rank frames join back on the value keys — no nested
    loop anywhere."""
    plan = plan_of(spark, sf_dir, "q222_spearman")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q224_fingerprint_is_single_aggregate(spark, sf_dir):
    """Fingerprint: one scan, one aggregate, no joins, no window."""
    plan = plan_of(spark, sf_dir, "q224_corpus_fingerprint")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_q225_hhi_is_two_aggregates(spark, sf_dir):
    """HHI: two nested aggregates, no joins."""
    plan = plan_of(spark, sf_dir, "q225_source_hhi")
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# round-6 tranche 11 (sequence mining + stylometry q227-q231)
# ---------------------------------------------------------------------------


def test_q227_transition_window_is_user_partitioned(spark, sf_dir):
    """Entropy rate: the lead window partitions by user; N rides a
    1-row broadcast."""
    plan = plan_of(spark, sf_dir, "q227_markov_entropy")
    assert "windowspecdefinition(user_id" in plan
    assert "CartesianProduct" not in plan


def test_q228_delta_grid_is_broadcast_sized(spark, sf_dir):
    """Burrows' Delta: the top-word list and grid joins broadcast —
    no sort-merge join should survive at dashboard sizes; the one
    nested-loop is the declared |sources| x 20 dense grid."""
    plan = plan_of(spark, sf_dir, "q228_burrows_delta")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # ONE logical |sources| x 20 dense-grid cross join; its subtree
    # prints four times (fi feeds ws AND z; z sits on both pair sides)
    assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_q230_basket_join_is_equi_on_basket_key(spark, sf_dir):
    """Market basket: the pair self-join is an equi-join on
    (user, day) — never a nested loop over baskets."""
    plan = plan_of(spark, sf_dir, "q230_session_basket")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row n scalar


def test_q231_stopwords_single_aggregate(spark, sf_dir):
    """Stopword discovery: one token groupBy + a 1-row broadcast —
    no other join, no window."""
    plan = plan_of(spark, sf_dir, "q231_stopword_discovery")
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


# ---------------------------------------------------------------------------
# round-6 tranche 12 (embedding-space evaluation q232-q234)
# ---------------------------------------------------------------------------


def test_q232_confusion_per_row_path_is_joinless(spark, sf_dir):
    """Nearest-centroid assignment folds literal centroids per row —
    the assignment path has no join; the only shuffle is the
    |labels|²-row confusion aggregate."""
    plan = plan_of(spark, sf_dir, "q232_centroid_confusion")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q234_health_is_single_scan_fold(spark, sf_dir):
    """Norm audit: one scan, per-row fold, one label aggregate —
    no join, no explode-shaped Generate."""
    plan = plan_of(spark, sf_dir, "q234_embedding_health")
    assert "Join" not in plan
    assert "Generate" not in plan


# ---------------------------------------------------------------------------
# round-6 tranche 13 (clustering/graph evaluation q235-q236)
# ---------------------------------------------------------------------------


def test_q236_assortativity_joins_are_equi(spark, sf_dir):
    """Assortativity: degree attach is two equi-joins on vertex keys;
    nothing nested-loop beyond the 1-row moment broadcast."""
    plan = plan_of(spark, sf_dir, "q236_degree_assortativity")
    assert "CartesianProduct" not in plan


def test_q235_purity_scalars_broadcast(spark, sf_dir):
    """Purity/NMI: the four scalar frames (n, MI, H(C), H(S)) ride
    1-row broadcasts onto the stats row — no sort-merge join of
    scalar frames."""
    plan = plan_of(spark, sf_dir, "q235_cluster_purity")
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round-6 tranche 14 (forecasting + population estimation q237-q240)
# ---------------------------------------------------------------------------


def test_q237_holt_fold_is_day_level(spark, sf_dir):
    """Holt smoothing: one events scan feeds the daily aggregate; the
    sequential fold runs on the collected day array (single row) —
    no join, no per-event window."""
    plan = plan_of(spark, sf_dir, "q237_holt_smoothing")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_q239_rfm_windows_are_user_level(spark, sf_dir):
    """RFM: the three ntile windows run over the user aggregate (one
    events scan), never over raw events."""
    plan = plan_of(spark, sf_dir, "q239_rfm_segments")
    assert plan.count("Scan parquet") <= 2  # events + the 1-row gmax side
    assert "CartesianProduct" not in plan


def test_q240_chapman_is_distinct_plus_one_aggregate(spark, sf_dir):
    """Capture-recapture: distinct (capture, gram) then ONE aggregate
    with the two-phase distinct expand — no joins anywhere."""
    plan = plan_of(spark, sf_dir, "q240_capture_recapture")
    assert "Join" not in plan
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# round-6 tranche 16 (distribution-shape diagnostics q243-q244)
# ---------------------------------------------------------------------------


def test_q243_hill_topk_is_take_ordered(spark, sf_dir):
    """Hill estimator: the top-k order statistics come from
    TakeOrderedAndProject (per-partition heap), never a global
    row_number sort."""
    plan = plan_of(spark, sf_dir, "q243_hill_tail_index")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_q244_decile_windows_are_group_partitioned(spark, sf_dir):
    """Q-Q deciles: the cumulative windows partition by group — never
    a global sort of the raw rows."""
    plan = plan_of(spark, sf_dir, "q244_qq_deciles")
    assert "windowspecdefinition(grp" in plan
    assert "CartesianProduct" not in plan
