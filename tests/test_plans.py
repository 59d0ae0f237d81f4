"""Physical-plan contracts (SURVEY.md §4; the 100-TB design gate).

Correctness tests prove the answers are right; these prove the PLANS are
the ones that survive scale — filters pushed to the scan, columns
pruned, dims broadcast, top-k never globally sorting, hot paths in
whole-stage codegen. A regression here is a 100× slowdown waiting for a
bigger cluster, even while every oracle still matches.
"""

from __future__ import annotations

import pytest

from t_mobile_data_fnt_etl_pipeline_aws_spark.plans.inspect import (
    codegen_operator_count,
    exchange_count,
    has_operator,
    join_strategies,
    plan_string,
    pushed_filters,
    scan_columns,
)
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_queries

QUERIES = all_queries()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = QUERIES["q_filter_pred"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert pushed, f"no PushedFilters in plan:\n{plan_string(df)}"
    assert any("o_orderstatus" in p for p in pushed)


def test_flagship_pushes_shipdate_filter(spark, sf_dir):
    df = QUERIES["q_agg_hash"](spark, sf_dir)
    assert any("l_shipdate" in p for p in pushed_filters(df))


def test_column_pruning_on_projection(spark, sf_dir):
    df = QUERIES["q_project_rename"](spark, sf_dir)
    cols = scan_columns(df)
    # lineitem has 11 columns; the query touches exactly these 5
    assert cols == {
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
    }, f"scan not pruned: {cols}"


def test_dimension_join_broadcasts(spark, sf_dir):
    df = QUERIES["q_join_broadcast"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_fact_fact_join_is_sort_merge(spark, sf_dir):
    df = QUERIES["q_join_sortmerge"](spark, sf_dir)
    assert "SortMergeJoin" in join_strategies(df)


def test_global_topk_avoids_full_sort(spark, sf_dir):
    df = QUERIES["q_topk_global"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject"), plan_string(df)


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    df = QUERIES["q_topk_per_group"](spark, sf_dir)
    assert has_operator(df, "WindowGroupLimit"), plan_string(df)


def test_flagship_aggregates_in_codegen(spark, sf_dir):
    df = QUERIES["q_agg_hash"](spark, sf_dir)
    assert has_operator(df, "HashAggregate")
    # AQE's formatted plan omits codegen spans until the final plan is
    # chosen — materialize first, then read the executed plan.
    df.collect()
    assert codegen_operator_count(df) >= 1, plan_string(df)


def test_ann_probe_is_broadcast(spark, sf_dir):
    """The similarity probe must broadcast — a shuffled cross join here
    would move the full embeddings table per query at scale."""
    df = QUERIES["q_sim_search_topk"](spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in join_strategies(df)
    assert has_operator(df, "TakeOrderedAndProject")


def test_semi_anti_plan_as_joins_not_aggregates(spark, sf_dir):
    semi = plan_string(QUERIES["q_join_semi"](spark, sf_dir))
    anti = plan_string(QUERIES["q_join_anti"](spark, sf_dir))
    assert "LeftSemi" in semi or "Semi" in semi
    assert "LeftAnti" in anti or "Anti" in anti


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    """The 6-table star join must broadcast its dimension sides — a
    shuffled join against region/nation/supplier wastes a full fact
    shuffle per dim at scale."""
    df = QUERIES["q_pipeline_region_volume"](spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The whole point of the bucketed layout: the fact-fact join reads
    pre-bucketed tables and plans WITHOUT a shuffle exchange before the
    join (only the final aggregation may exchange)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.plans.inspect import plan_string
    import re

    df = QUERIES["q_bucketed_join_colocated"](spark, sf_dir)
    plan = plan_string(df)
    join_pos = plan.find("SortMergeJoin")
    assert join_pos != -1, plan
    # physical tree is printed top-down: operators feeding the join appear
    # AFTER it in the operator detail listing — assert no Exchange between
    # the scans and the join in the tree section.
    tree = plan.split("(1) Scan")[0]
    join_line = next(i for i, ln in enumerate(tree.splitlines()) if "SortMergeJoin" in ln)
    below_join = "\n".join(tree.splitlines()[join_line:])
    assert "Exchange" not in below_join, below_join


def test_theta_bucketed_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketed band join must plan as a hash/sort-merge equi-join on
    the geometric bucket key — never a nested loop or cartesian pairing
    (the whole point of the variant: it survives a build side too big to
    broadcast)."""
    df = QUERIES["q_join_theta_bucketed"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, plan_string(df)
    assert all(
        s in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for s in strategies
    ), strategies


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    """EXISTS must compile to a semi join — not per-row subquery
    re-execution (which would be a correlated-loop disaster at scale)."""
    df = QUERIES["q_subquery_exists"](spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan or any(
        "SemiJoin" in s or "Semi" in s for s in join_strategies(df)
    ), plan


def test_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    df = QUERIES["q_subquery_not_exists"](spark, sf_dir)
    plan = plan_string(df)
    assert "LeftAnti" in plan, plan


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """<=> is an equi-key: the plan must be a hash/sort-merge join, not
    BroadcastNestedLoopJoin (the a=b OR (a IS NULL AND b IS NULL) trap)."""
    df = QUERIES["q_join_null_safe"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and "BroadcastNestedLoopJoin" not in strategies, strategies


def test_pivot_is_single_scan_no_join(spark, sf_dir):
    """Pinned-domain pivot reads the input ONCE and never joins: the plan
    is the two-phase (group-cell count → pivotfirst) aggregation over a
    single scan — no per-priority re-scan, no join fan-in."""
    df = QUERIES["q_pivot_wide"](spark, sf_dir)
    plan = plan_string(df)
    assert "Join" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "pivotfirst" in plan, plan


def test_unpivot_expands_without_shuffle(spark, sf_dir):
    """Unpivot is an Expand projection: the only exchange in the plan is
    the upstream aggregate's, nothing after the Expand."""
    df = QUERIES["q_unpivot_long"](spark, sf_dir)
    plan = plan_string(df)
    assert "Expand" in plan, plan
    # no exchange above the Expand (plan text is top-down: output first)
    expand_pos = plan.index("Expand")
    assert "Exchange" not in plan[:expand_pos], plan


def test_asof_tolerance_is_merge_scan_not_join(spark, sf_dir):
    """q_join_asof_tolerance must stay the union-merge form: ONE exchange
    (hash on user_id), zero join operators. If a join ever appears the
    per-hot-key pair blowup is back."""
    df = QUERIES["q_join_asof_tolerance"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), f"join crept into merge-as-of:\n{plan}"
    import re

    n_exchanges = len(re.findall(r"\bExchange \(\d+\)", plan))
    assert n_exchanges <= 1, f"expected 1 exchange, saw {n_exchanges}:\n{plan}"


def test_asof_is_merge_scan_not_join(spark, sf_dir):
    """q_join_asof must stay the union-merge LOCF form (round-5 rewrite —
    VERDICT r4's one perf_weak flag): zero join operators, ONE exchange
    (hash on user_id). The old equi-join + row_number()=1 shape
    materialized every (event, earlier-order) pair per hot user."""
    df = QUERIES["q_join_asof"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), f"join crept into merge-as-of:\n{plan}"
    import re

    n_exchanges = len(re.findall(r"\bExchange \(\d+\)", plan))
    assert n_exchanges <= 1, f"expected 1 exchange, saw {n_exchanges}:\n{plan}"


def test_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """A filter on the partition column of a partitioned parquet layout
    must prune at planning time — the scan's partition count is the
    selected partitions only, and the data filter never reaches the
    row-group level (it is satisfied by pruning alone)."""
    from pyspark.sql import functions as F
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    path = str(tmp_path / "orders_by_status")
    load(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = plan_string(df)
    import re

    m = re.search(r"Partition(?:Filters|Predicates): \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), (
        f"partition filter not applied at scan:\n{plan}"
    )


def test_waiting_supplier_double_decorrelation(spark, sf_dir):
    """Q21-shape: both the correlated EXISTS and the o_orderdate-correlated
    NOT EXISTS must decorrelate to LeftSemi/LeftAnti joins — no
    iterative per-row subquery execution may survive planning."""
    df = QUERIES["q_subquery_waiting_supplier"](spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "InSubqueryExec" not in plan and "ScalarSubquery" not in plan, plan


def test_prefix_filter_never_nested_loop(spark, sf_dir):
    """The prefix-filter similarity join must build candidates from
    token equi-joins (inverted index) — a BroadcastNestedLoopJoin or
    CartesianProduct anywhere means the O(n^2) pair space the algorithm
    exists to avoid."""
    df = QUERIES["q_dedup_prefix_filter"](spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pareto_star_join_broadcasts_dims(spark, sf_dir):
    """Pareto/ABC joins lineitem to supplier and nation: both dims must
    broadcast so the only fact shuffle is the rollup's hash-agg."""
    df = QUERIES["q_pareto_abc"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Join-driven pruning: filtering a dimension on a NON-join column and
    joining on the fact's partition column must inject a dynamicpruning
    subquery into the fact scan — at 100 TB this skips whole partitions
    based on the dim filter, without any literal partition predicate in
    the query.

    The dim filter must NOT be on the join key itself: a literal
    predicate on the join key is propagated through the equi-join by
    InferFiltersFromConstraints and becomes a STATIC PartitionFilter on
    the fact scan (strictly better than DPP — nothing left to prune
    dynamically), so that shape never shows a dynamicpruning expression.
    Filtering nation on n_name and joining on n_nationkey keeps the
    partition predicate unknowable until runtime."""
    from pyspark.sql import functions as F
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    path = str(tmp_path / "customer_by_nation_dpp")
    load(spark, sf_dir, "customer").write.partitionBy("c_nationkey").mode(
        "overwrite"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    joined = fact.join(dim, fact.c_nationkey == dim.n_nationkey).groupBy(
        "c_mktsegment"
    ).count()
    plan = plan_string(joined)
    assert "dynamicpruning" in plan.lower(), (
        f"dynamic partition pruning did not fire:\n{plan}"
    )


def test_unigram_joins_broadcast_never_shuffle_occurrences(spark, sf_dir):
    """q_text_unigram_logprob: BOTH joins (total onto vocab, scored vocab
    onto token occurrences) must be broadcast — a shuffle join keyed on
    token would route every occurrence of the hottest word through one
    partition (Zipf skew), the classic 100-TB text-pipeline stall."""
    df = QUERIES["q_text_unigram_logprob"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(
        "Broadcast" in s for s in strategies
    ), f"non-broadcast join in unigram plan: {strategies}"


def test_centroid_assignment_broadcasts_centroids(spark, sf_dir):
    """q_topic_assign_nearest_centroid: the |labels|-row centroid table
    must reach each vector as a broadcast (map-side fan-out), never by
    shuffling the embeddings side."""
    df = QUERIES["q_topic_assign_nearest_centroid"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(
        "Broadcast" in s for s in strategies
    ), f"centroids not broadcast: {strategies}"


def test_quantize_audit_is_shuffle_free(spark, sf_dir):
    """q_embedding_quantize_int8 is a pure map over the scan — any
    Exchange in the plan means a pointless full-table shuffle at scale."""
    df = QUERIES["q_embedding_quantize_int8"](spark, sf_dir)
    assert exchange_count(df) == 0, plan_string(df)

def test_skyline_never_nested_loop(spark, sf_dir):
    """The skyline must come from the shard-prefix-max construction —
    never the O(n²) dominance join the oracle runs: no cartesian or
    nested-loop join anywhere in the physical plan."""
    df = QUERIES["q_skyline_pareto"](spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_market_basket_dims_broadcast(spark, sf_dir):
    """part (the dim), the brand marginals, and the one-row total must
    all broadcast; the only shuffle joins are the orderkey self-join."""
    df = QUERIES["q_assoc_market_basket"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    plan = plan_string(df)
    assert "CartesianProduct" not in plan


def test_pmi_vocab_joins_broadcast(spark, sf_dir):
    """Unigram counts and both totals enter as broadcasts — the bigram
    table never shuffles against vocabulary-sized sides."""
    df = QUERIES["q_text_pmi_bigrams"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(
        s in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for s in strategies
    ), strategies

def test_exact_pair_queries_never_nested_loop(spark, sf_dir):
    """The exact-threshold pair queries (Jaccard, containment) must plan
    as prefix-filter candidate joins — no cartesian / nested-loop pair
    materialization anywhere; only their DuckDB oracles run O(n²)."""
    for key in ("q_dedup_ngram_jaccard", "q_dedup_containment",
                "q_dedup_prefix_filter", "q_dedup_pairs_full"):
        plan = plan_string(QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key

def test_forecast_revenue_pushes_all_filters(spark, sf_dir):
    """Q6's whole selectivity must reach the parquet scan: shipdate,
    discount, and quantity all in PushedFilters, scan pruned to the
    3 touched columns."""
    df = QUERIES["q_pipeline_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert scan_columns(df) == {"l_shipdate", "l_discount", "l_quantity",
                                "l_extendedprice"}


def test_topk_pipelines_never_global_sort(spark, sf_dir):
    """Q10/Q18-shaped top-k must plan as TakeOrderedAndProject, never a
    full global Sort feeding a Limit."""
    for key in ("q_pipeline_returned_revenue", "q_pipeline_large_orders"):
        plan = plan_string(QUERIES[key](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, key


def test_substring_dedup_has_no_joins(spark, sf_dir):
    """q_dedup_substring must be pure shuffle-window/agg: the cross-doc
    repetition test is a window over the shingle partition (min!=max),
    never a groupBy + semi-join back, and certainly never a pair join —
    zero join operators of any kind in the plan."""
    df = QUERIES["q_dedup_substring"](spark, sf_dir)
    assert join_strategies(df) == [], join_strategies(df)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_revenue_pushes_derived_bounds(spark, sf_dir):
    """Q19 shape: the hand-derived single-table implications of the
    cross-table OR must reach both parquet scans — quantity bounds on
    lineitem, brand/size on part — and part must broadcast."""
    df = QUERIES["q_pipeline_disjunctive_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed and "p_size" in pushed, pushed
    assert "BroadcastHashJoin" in join_strategies(df)


def test_tpch_adapted_star_joins_broadcast_dims(spark, sf_dir):
    """Q9/Q16 adaptations: every dim side (part, supplier, nation) must
    broadcast — the fact table is the only shuffle participant."""
    for key in ("q_pipeline_nation_profit", "q_report_supplier_parts"):
        strategies = join_strategies(QUERIES[key](spark, sf_dir))
        assert strategies and all(
            s == "BroadcastHashJoin" for s in strategies
        ), (key, strategies)


def test_triangles_never_cartesian(spark, sf_dir):
    """The wedge join must stay equi-join shaped: no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in q_graph_triangles — a nested
    loop here is the O(n²) wedge-space plan the degree orientation
    exists to avoid."""
    plan = plan_string(QUERIES["q_graph_triangles"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stream_full_outer_is_hash_join_with_residual(spark, sf_dir):
    """The full-outer interval join must key its shuffle on user_id with
    the time range as a residual filter — equi-join strategies only
    (SortMergeJoin/ShuffledHashJoin), never a nested loop over the
    pair space."""
    strategies = join_strategies(
        QUERIES["q_stream_stream_full_outer"](spark, sf_dir)
    )
    assert strategies, "no join in plan?"
    assert all(
        s in ("SortMergeJoin", "ShuffledHashJoin") for s in strategies
    ), strategies


def test_cdc_chunking_has_no_joins(spark, sf_dir):
    """q_chunk_cdc must be pure map + window + aggregate: boundary flags
    are computed map-side and chunk numbering is a running window —
    zero join operators; q_dedup_cdc_chunks adds only a hash-agg."""
    for key in ("q_chunk_cdc", "q_dedup_cdc_chunks"):
        df = QUERIES[key](spark, sf_dir)
        assert join_strategies(df) == [], (key, join_strategies(df))


def test_bloom_filter_join_pruning_fires(spark, sf_dir):
    """Runtime Bloom-filter join pruning (the last untouched built-in
    100-TB lever): with the feature enabled and the toy-scale
    application-side size threshold lifted, the selective fact-dim
    shuffle join must inject a bloom_filter_agg subquery on the
    creation (orders) side and a might_contain probe on the lineitem
    side BEFORE its shuffle — and, being a pure perf rewrite, produce
    byte-identical results with the feature on and off."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # default 10 GB: no toy-scale scan qualifies without this
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the join a shuffle join — broadcast bypasses bloom
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = QUERIES["q_join_bloom_pruned"](spark, sf_dir)
        plan = plan_string(df)
        assert "might_contain" in plan, (
            f"bloom filter probe not injected:\n{plan}"
        )
        assert "bloom_filter_agg" in plan, plan
        rows_on = {tuple(r) for r in df.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    rows_off = {
        tuple(r) for r in QUERIES["q_join_bloom_pruned"](spark, sf_dir).collect()
    }
    assert rows_on == rows_off and rows_on


def test_skew_stress_salting_bounds_per_task_input(spark, sf_dir):
    """Empirical skew proof (VERDICT r6 item 6), half 1 — salting: on a
    synthesized pathological distribution (one customer owning ~30% of
    orders), hash-partitioning by the bare key funnels the hot key's
    rows through ONE task, while the q_join_salted_skew pattern (salt
    in [0,S) appended to the shuffle key) measurably re-bounds the
    largest task near the uniform ideal. Measured with real shuffle
    partition row counts, not plan text."""
    from pyspark.sql import functions as F
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 10 < 3, F.lit(42))
        .otherwise(F.col("o_custkey"))
        .alias("custkey"),
        "o_orderkey",
    )
    total = o.count()
    parts, n_salts = 32, 16

    def max_partition_rows(df, *keys):
        dist = (
            df.repartition(parts, *keys)
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
        return max(r["count"] for r in dist)

    max_plain = max_partition_rows(o, "custkey")
    salted = o.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salts)).cast("int")
    )
    max_salted = max_partition_rows(salted, "custkey", "salt")

    # the synthetic skew really is pathological: one task eats >= 30%
    assert max_plain >= 0.30 * total, (max_plain, total)
    # salting re-bounds the largest task: >= 4x smaller than the hot
    # task and within 3x of the uniform ideal
    assert max_salted <= max_plain / 4, (max_plain, max_salted)
    assert max_salted <= 3 * (total / parts), (max_salted, total / parts)


def test_join_skew_aqe_plan(spark, sf_dir):
    """Empirical skew proof, half 2 — AQE (and the plan contract for
    q_join_skew_aqe, which shares these exact helpers): the hot-key
    fact joined to customer as a sort-merge join must get its skewed
    partition SPLIT by AQE's OptimizeSkewedJoin at runtime (skew=true
    in the final adaptive plan) once the skew thresholds reflect the
    toy data volume. repartition(8) inside _skew_aqe_joined gives the
    join shuffle multiple map tasks (a skewed reduce partition splits
    along mapper-index ranges; a single-file 1-mapper scan has nothing
    to split), and the md5 pad makes the hot partition's COMPRESSED
    shuffle bytes — what the detector reads — clear the scaled-down
    threshold. This is the automatic path for moderate skew; explicit
    salting (half 1) remains the tool for the pathological single-key
    hot spots AQE can't split further."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.joins import (
        _skew_aqe_confs,
        _skew_aqe_joined,
    )

    confs = _skew_aqe_confs()
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = _skew_aqe_joined(spark, sf_dir)
        # collect() drives THIS DataFrame's queryExecution to its final
        # adaptive plan (a noop write would execute a copy and leave
        # isFinalPlan=false here)
        joined.collect()
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wow_self_join_reuses_exchange(spark, sf_dir):
    """q_report_wow_growth self-joins the weekly aggregate: the plan
    must contain a ReusedExchange — the fact-table shuffle computed
    once and read by both sides. Two independent aggregations of the
    same 100-TB fact table is exactly the cost this operator shape
    exists to avoid."""
    df = QUERIES["q_report_wow_growth"](spark, sf_dir)
    # AQE materializes exchange reuse at runtime (stage cache): the
    # marker appears in the FINAL adaptive plan, so execute first —
    # same pattern as the codegen contract.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_binaryfile_partition_pruning(spark, sf_dir):
    """The binaryFile blob lake must prune on the hive-discovered
    doc_id partition column: a doc_id filter appears as a
    PartitionFilter on the scan, not a post-scan Filter over all
    blobs — at 100 TB that is the difference between opening one
    directory and statting a billion files."""
    QUERIES["q_scan_binaryfile"](spark, sf_dir).collect()  # lay the blobs
    import os
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sinks_{os.getpid()}",
        "documents_blobs",
    )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
        .filter("doc_id = 7")
    )
    plan = plan_string(bf)
    assert "PartitionFilters" in plan and "doc_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_arrow_optimized_udf_uses_arrow_eval(spark, sf_dir):
    """q_udf_arrow_optimized must cross the Python boundary via Arrow
    record batches (ArrowEvalPython), not the pickled row-at-a-time
    BatchEvalPython — the whole point of useArrow=True."""
    df = QUERIES["q_udf_arrow_optimized"](spark, sf_dir)
    plan = plan_string(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_parquet_aggregate_pushdown_fires(spark, sf_dir):
    """q_scan_agg_pushdown's stats-only profile must be answerable from
    parquet footer statistics: with aggregatePushdown on the DSv2 read
    path the BatchScan node carries PushedAggregation (count/min/max
    served per row group with no data-page reads) — and, being a pure
    perf rewrite, the answer must equal the plain-scan form."""
    baseline = sorted(
        map(tuple, QUERIES["q_scan_agg_pushdown"](spark, sf_dir).collect())
    )
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = QUERIES["q_scan_agg_pushdown"](spark, sf_dir)
        plan = plan_string(df)
        assert "PushedAggregation" in plan, plan
        assert sorted(map(tuple, df.collect())) == baseline
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_map_in_arrow_uses_arrow_node(spark, sf_dir):
    """q_udf_map_in_arrow must execute as a MapInArrow node (raw
    RecordBatch transport, no pandas conversion) — not a pandas-eval
    or pickled-Python node."""
    df = QUERIES["q_udf_map_in_arrow"](spark, sf_dir)
    plan = plan_string(df)
    assert "MapInArrow" in plan, plan


def test_batch_topk_routes_cells_never_cartesian(spark, sf_dir):
    """q_sim_search_batch_topk's corpus-scale stage must be the cell
    equi-join with the probe set on the broadcast side (~100 rows vs
    the corpus — no shuffle of the big side at all); nested-loop is
    allowed ONLY for the |cells|-sized centroid routing fan-out, and
    the per-probe top-5 must run as WindowGroupLimit, not a global
    sort of the candidate set."""
    df = QUERIES["q_sim_search_batch_topk"](spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    # the only nested-loop joins are the broadcast centroid routing
    # (|cells| rows); the candidate join must never degrade to one
    assert strategies.count("BroadcastNestedLoopJoin") <= 2, strategies
    assert "WindowGroupLimit" in plan, plan


def test_sql_udf_inlines_to_case(spark, sf_dir):
    """The CREATE FUNCTION SQL UDF must be INLINED by Catalyst: no
    Python evaluation node of any kind in the plan (the whole point of
    a SQL-body function vs the Python UDF spectrum) — the call
    compiles into the scan-side projection under whole-stage codegen."""
    df = QUERIES["q_sql_udf_create_function"](spark, sf_dir)
    plan = plan_string(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas"):
        assert node not in plan, (node, plan)
    assert codegen_operator_count(df) > 0, plan


def test_python_datasource_parallelizes_per_file(spark, sf_dir):
    """The custom Python data source must plan one input partition per
    exported file (4 written) — a single-partition reader would
    serialize the whole feed through one task regardless of cluster
    size, the classic custom-connector scale bug."""
    df = QUERIES["q_scan_python_datasource"](spark, sf_dir)
    assert df.rdd.getNumPartitions() == 4


def test_shared_scan_reports_hit_cache(spark, sf_dir):
    """q_report_shared_scan's two report branches must BOTH plan
    against the persisted base (InMemoryTableScan / InMemoryRelation
    in ≥ 2 places) — without the cache each union branch re-scans the
    fact table, the 100-TB report-suite scan tax the operator exists
    to avoid."""
    df = QUERIES["q_report_shared_scan"](spark, sf_dir)
    plan = plan_string(df)
    n_cached = plan.count("InMemoryTableScan") or plan.count("TableCacheQueryStage")
    assert n_cached >= 2, f"cached base not reused across branches:\n{plan}"


def test_shuffled_hash_join_pinned(spark, sf_dir):
    """q_join_shuffled_hash must plan the hinted ShuffledHashJoin — the
    middle-regime strategy (build side too big to broadcast, small
    enough per shuffle partition) — never a sort-merge (the hint's
    whole point is skipping both sort passes) and never a broadcast
    (the scenario stipulates the dim exceeds the broadcast budget)."""
    df = QUERIES["q_join_shuffled_hash"](spark, sf_dir)
    strategies = join_strategies(df)
    assert any("ShuffledHashJoin" in s for s in strategies), strategies
    assert not any("SortMergeJoin" in s for s in strategies), strategies
    assert not any("BroadcastHashJoin" in s for s in strategies), strategies


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """q_join_dpp_prune's fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the runtime
    star-schema pruning that turns a 2,500-partition fact scan into
    reading only the dim-surviving slices. Filtering rows AFTER a full
    read would produce the same answer (the oracle proves parity) with
    none of the I/O win, so the plan text is the real contract here."""
    df = QUERIES["q_join_dpp_prune"](spark, sf_dir)
    plan = plan_string(df)
    assert "dynamicpruning" in plan.lower(), (
        f"no dynamic partition pruning in fact scan:\n{plan}"
    )


def test_er_assignment_is_broadcast(spark, sf_dir):
    """Entity resolution's only corpus-scale stage must be the
    broadcast of the ~64-row type→entity map onto the instance table —
    if the assignment join shuffles the part table, resolution cost
    scales with instances instead of with the name vocabulary. The
    RESOLUTION stage's own joins (blocking self-joins, CC star
    contractions) run on the bounded type table where strategy is
    immaterial, so the contract is anchored to the part scan: the
    nearest enclosing join above the instance-table scan in the plan
    tree must be a BroadcastHashJoin."""
    df = QUERIES["q_er_resolve_entities"](spark, sf_dir)
    tree = plan_string(df, mode="simple")
    lines = tree.splitlines()
    scan_idx = [
        i
        for i, ln in enumerate(lines)
        if "Scan parquet" in ln and "part" in ln.lower()
    ]
    assert scan_idx, f"no part scan found:\n{tree}"

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*"))

    ok = False
    for i in scan_idx:
        depth = indent(lines[i])
        for j in range(i - 1, -1, -1):
            if "Join" in lines[j] and indent(lines[j]) < depth:
                assert "BroadcastHashJoin" in lines[j], (
                    f"instance scan feeds a non-broadcast join:\n{tree}"
                )
                ok = True
                break
        if ok:
            break
    assert ok, f"no join found above the part scan:\n{tree}"


def test_iterator_udf_is_arrow_eval_map_only(spark, sf_dir):
    """q_udf_iterator_pandas (SCALAR_ITER) must execute as an
    ArrowEvalPython node pipelined with the scan — zero exchanges.
    SCALAR_ITER changes the Python-side protocol (per-task init
    amortized across batches), not the plan shape; a shuffle anywhere
    would mean the map-only contract broke."""
    df = QUERIES["q_udf_iterator_pandas"](spark, sf_dir)
    plan = plan_string(df)
    assert "ArrowEvalPython" in plan, plan
    assert exchange_count(df) == 0, plan


def test_lateral_alias_except_prunes_scan(spark, sf_dir):
    """q_sql_lateral_alias: SELECT * EXCEPT (o_custkey) is analyzer
    sugar, so column pruning must still reach the parquet scan — the
    excluded column absent from ReadSchema, and the orderkey<400 filter
    pushed. Sugar that defeated pruning would re-read every byte of a
    wide table at 100 TB."""
    df = QUERIES["q_sql_lateral_alias"](spark, sf_dir)
    cols = scan_columns(df)
    assert "o_custkey" not in cols, cols
    assert {"o_orderkey", "o_orderstatus", "o_orderpriority"} <= set(cols), cols
    assert any("400" in f for f in pushed_filters(df)), pushed_filters(df)


def test_null_skew_bypass_union_filters_nulls(spark, sf_dir):
    """q_join_null_skew: the plan must be a Union of (isnotnull-filtered
    join branch, isnull map-only branch) — null keys never reach the
    join's shuffle. One join only; the bypass branch is join-free."""
    df = QUERIES["q_join_null_skew"](spark, sf_dir)
    plan = plan_string(df)
    assert "Union" in plan, plan
    # exactly one join node in the tree section (the detail listing
    # repeats node names — count before the first node detail)
    tree = plan.split("(1) Scan")[0]
    assert sum("Join" in ln for ln in tree.splitlines()) == 1, tree
    # the join branch filters nulls out; the bypass branch keeps only
    # nulls (filters appear pushed into the scans as CASE predicates)
    assert "isnotnull" in plan and "isnull" in plan, plan


def test_pandas_struct_udf_single_arrow_eval(spark, sf_dir):
    """q_udf_pandas_struct: k derived columns must cost ONE
    ArrowEvalPython (one Arrow transfer), pipelined with the scan —
    zero exchanges; the struct flattening is projection-only."""
    df = QUERIES["q_udf_pandas_struct"](spark, sf_dir)
    plan = plan_string(df)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("ArrowEvalPython") == 1, plan
    assert exchange_count(df) == 0, plan


def test_mv_incremental_merges_partials_no_join(spark, sf_dir):
    """q_etl_mv_incremental: the refresh is union-of-partial-states +
    re-aggregate — there must be NO join anywhere (a join-based MV
    merge re-keys the whole MV), and the final plan re-aggregates the
    union (>=2 aggregate layers)."""
    df = QUERIES["q_etl_mv_incremental"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), join_strategies(df)
    assert "Union" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_named_window_shares_one_shuffle(spark, sf_dir):
    """q_sql_named_window: three analytic functions over compatible
    named windows must share ONE window exchange (same partitioning),
    and the orderkey filter must still reach the scan."""
    df = QUERIES["q_sql_named_window"](spark, sf_dir)
    assert exchange_count(df) == 1, plan_string(df)
    assert any("1000" in f for f in pushed_filters(df)), pushed_filters(df)


def test_sql_pivot_single_scan_no_join(spark, sf_dir):
    """q_sql_pivot_unpivot: the explicit IN-list PIVOT must compile to
    one scan + one aggregate — no values-discovery subquery, no join,
    no second scan of orders."""
    df = QUERIES["q_sql_pivot_unpivot"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), plan
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail listing


def test_bitmap_distinct_no_expand_two_level(spark, sf_dir):
    """q_agg_bitmap_distinct: the bitmap form must NOT plan the
    count-distinct Expand (the thing it exists to avoid — Expand
    multiplies every input row per distinct aggregate before the
    shuffle); it is two aggregate levels: per-bucket bitmap build
    (hash exchange on ~cardinality/32k buckets) + global sum (single
    partition) — exactly 2 exchanges, both over bitmap blobs, never
    raw key values."""
    df = QUERIES["q_agg_bitmap_distinct"](spark, sf_dir)
    plan = plan_string(df)
    assert "Expand" not in plan, plan
    assert exchange_count(df) == 2, plan


def test_geo_grid_join_is_equi_never_cartesian(spark, sf_dir):
    """q_join_geo_grid: the radius join must execute as an equi-join on
    the grid cell (hash/sort-merge/broadcast-HASH), never a nested-loop
    or cartesian pairing — the cross product is what the grid exists to
    avoid. The distance predicate appears as a post-join filter."""
    df = QUERIES["q_join_geo_grid"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, plan_string(df)
    assert all(
        s in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for s in strategies
    ), strategies


def test_nearest_value_is_maponly_searchsorted(spark, sf_dir):
    """q_join_nearest_value: the binary-search kernel must be ONE
    ArrowEvalPython pipelined with the scan — no join operator at all
    and ZERO exchanges (the first cut's BroadcastNestedLoopJoin
    materialized n x m rows and cost 45 s at sf0.1; this plan is the
    fix and must not regress back)."""
    df = QUERIES["q_join_nearest_value"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), plan
    tree = plan.split("(1) Scan")[0]
    assert tree.count("ArrowEvalPython") == 1, plan
    assert exchange_count(df) == 0, plan


def test_inset_large_compiles_to_hash_set_and_pushes(spark, sf_dir):
    """q_filter_inset_large: a 400-element IN list must compile to the
    InSet hash-set probe (not 400 chained ORs) and reach the scan as a
    pushed In(...) filter so stats-based pruning stays possible."""
    df = QUERIES["q_filter_inset_large"](spark, sf_dir)
    plan = plan_string(df)
    assert "INSET" in plan.upper(), plan[:3000]
    assert any("o_custkey" in f and f.lstrip().startswith("In(") for f in pushed_filters(df)) or any(
        "In(o_custkey" in f for f in pushed_filters(df)
    ), pushed_filters(df)


def test_avro_source_parallelizes_per_file(spark, sf_dir):
    """The Avro Python source must plan one input partition per landed
    container file: the sink writes 4 (orders) and 8 (lineitem) files,
    so the read side fans out 4/8-wide — single-partition custom
    readers are the classic connector scale bug."""
    sink = QUERIES["q_sink_avro_python"](spark, sf_dir)
    assert sink.rdd.getNumPartitions() == 4
    # the composed-agg key shuffles above its scan, so its output width
    # reflects the agg, not the source — the 4-wide raw read above is
    # the per-file contract; this smoke just proves the agg composes
    assert QUERIES["q_scan_avro_python"](spark, sf_dir).count() == 3


def test_sqlite_range_reader_parallelizes(spark, sf_dir):
    """q_scan_sqlite_partitioned: 8 disjoint key-range slices -> 8 input
    partitions, each holding only its slice (no overlap, no gaps: the
    union re-assembles the exact table)."""
    df = QUERIES["q_scan_sqlite_partitioned"](spark, sf_dir)
    assert df.rdd.getNumPartitions() == 8
    total = df.count()
    distinct = df.select("o_orderkey").distinct().count()
    assert total == distinct, "range slices overlap or duplicate rows"


def test_parquet_codec_sizes_ordered(spark, sf_dir):
    """The codec audit's size story: on the orders projection, zstd
    compresses tighter than snappy, and both beat uncompressed —
    asserted here (not in the hashed query output) because absolute
    byte counts vary with codec library versions."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    base = _os.path.join(_tf.gettempdir(), f"spark_graft_sinks_{_os.getpid()}")
    QUERIES["q_sink_parquet_codecs"](spark, sf_dir).collect()
    sizes = {}
    for codec in ("none", "snappy", "zstd"):
        dirs = sorted(_glob.glob(_os.path.join(base, f"orders_codec_{codec}_*")))
        assert dirs, f"no sink dir for codec {codec}"
        d = dirs[-1]  # newest generation from the collect above
        sizes[codec] = sum(
            _os.path.getsize(f)
            for f in _glob.glob(_os.path.join(d, "*.parquet"))
        )
    assert sizes["zstd"] < sizes["snappy"] < sizes["none"], sizes


def test_federated_join_broadcasts_db_dim(spark, sf_dir):
    """q_join_federated_sources: the sqlite-served dimension must
    BROADCAST into the parquet fact join — a shuffled join would move
    the fact table to meet a dim-sized build side, wasting the plan's
    whole point (the fact never shuffles for the join)."""
    df = QUERIES["q_join_federated_sources"](spark, sf_dir)
    assert "BroadcastHashJoin" in join_strategies(df), plan_string(df)


def test_ohlc_stays_hash_aggregated(spark, sf_dir):
    """q_timeseries_ohlc's argmin/argmax must ride fixed-width buffers
    (min_by/max_by over the decimal composite) so the aggregate stays
    HashAggregate — a struct min/max demotes the WHOLE aggregate to
    SortAggregate (per-partition sort at scale), which is exactly what
    the composite-key formulation exists to avoid."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["q_timeseries_ohlc"](spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_mor_delete_read_broadcasts_antijoin(spark, sf_dir):
    """The merge-on-read reader must apply delete vectors as a
    BROADCAST anti-join (the vector side is proportional to rows
    deleted, by design sparse) — a shuffled anti-join would re-shuffle
    the full 100-TB data side to mask a kilobyte of deletes."""
    df = QUERIES["q_etl_manifest_delete_mor"](spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hidden_partitioning_scans_fewer_files(spark, sf_dir):
    """The hidden-partitioning key's result column pins pruning
    (pruned_by_transform = files_read < total); the plan must show a
    parquet scan with the exact raw-column predicate still pushed into
    the surviving files (transform pruning COMPOSES with, never
    replaces, PushedFilters)."""
    df = QUERIES["q_etl_hidden_partitioning"](spark, sf_dir)
    assert any("o_orderdate" in p for p in pushed_filters(df)), plan_string(df)
    assert all(r.pruned_by_transform for r in df.collect())


def test_mor_update_read_broadcasts_antijoin(spark, sf_dir):
    """The atomic MoR update's read path is the same broadcast anti-join
    contract as MoR deletes: the vector side is rows-updated-sized, so
    a shuffled anti-join (re-shuffling the 100-TB data side to apply a
    kilobyte mask) is the plan this pins against."""
    df = QUERIES["q_etl_manifest_update_mor"](spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert all(r.atomic_single_commit and r.no_files_rewritten for r in df.collect())


def test_partition_evolution_scan_is_file_pruned(spark, sf_dir):
    """The evolution key's scan must read only the surviving files'
    rows with the exact raw-column predicate still pushed (transform
    pruning composes with PushedFilters, same contract as hidden
    partitioning), and both generations must actually have pruned."""
    df = QUERIES["q_etl_partition_evolution"](spark, sf_dir)
    assert any("o_orderdate" in p for p in pushed_filters(df)), plan_string(df)
    assert all(r.pruned_both_generations for r in df.collect())


def test_merge_mor_read_plan_all_broadcast(spark, sf_dir):
    """The MoR MERGE key's read path composes THREE mask/metadata joins
    — position anti-join, file-seq map join, (and for tables with eq
    vectors, the value anti-join) — and every one must be a BROADCAST
    hash join: each right side is O(rows changed) or O(#files), so a
    SortMergeJoin anywhere means the 100-TB data side re-shuffled to
    apply kilobytes of masks."""
    df = QUERIES["q_etl_manifest_merge_mor"](spark, sf_dir)
    plan = plan_string(df)
    strategies = set(join_strategies(df))
    assert strategies and strategies <= {"BroadcastHashJoin"}, plan
    assert all(
        r.atomic_single_commit and r.no_files_rewritten for r in df.collect()
    )


def test_defaults_read_is_projection_plus_broadcast_map(spark, sf_dir):
    """Column defaults resolve as a projection over ONE broadcast
    file-seq map join — no shuffle, no UDF: the plan for the defaults
    key must contain only broadcast joins and zero Python evals."""
    df = QUERIES["q_etl_schema_default_values"](spark, sf_dir)
    plan = plan_string(df)
    strategies = set(join_strategies(df))
    assert strategies and strategies <= {"BroadcastHashJoin"}, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_type_widening_single_scan_both_generations(spark, sf_dir):
    """Type widening must NOT fork the read into per-generation scans +
    union: the widened reader schema upcasts narrow files natively, so
    the final read is ONE parquet scan (no Union operator) and no join
    at all (the table carries no masks in this key)."""
    df = QUERIES["q_etl_type_widening"](spark, sf_dir)
    plan = plan_string(df)
    assert not join_strategies(df), plan
    assert "Union" not in plan, plan
    assert all(r.zero_files_rewritten for r in df.collect())


def test_lineage_read_all_broadcast_no_python(spark, tmp_path):
    """The row-lineage read composes the mask joins with ONE extra
    broadcast map join (file -> first_row_id) and a projection — every
    join broadcast, zero Python evals, no shuffle of the data side."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "linplan")
    mt.commit_append(
        spark.range(100).selectExpr("id as k", "id*2 as v").repartition(2),
        table,
        ["k"],
    )
    doomed = mt.read_version_with_pos(spark, table).filter("k % 10 = 0")
    mt.commit_delete(spark, table, doomed.select("file_path", "row_index"))
    df = mt.read_version_with_lineage(spark, table)
    plan = plan_string(df)
    strategies = set(join_strategies(df))
    assert strategies and strategies <= {"BroadcastHashJoin"}, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_sql_view_over_manifest_pushes_filters(spark, tmp_path):
    """A Spark SQL filter over a register_table view must reach the
    parquet scan as PushedFilters — the view is the read_version
    Catalyst tree, not an opaque materialization, so SQL users keep
    scan pushdown through the format layer (masks included)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "sqlplan")
    mt.commit_append(
        spark.range(1000).selectExpr("id as k", "id % 7 as bucket")
        .repartition(2),
        table,
        ["k"],
    )
    mt.commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(5,)], "k long")
    )
    mt.register_table(spark, table, "sqlplan_view")
    df = spark.sql("SELECT k FROM sqlplan_view WHERE k > 900")
    pushed = pushed_filters(df)
    assert any("k" in p for p in pushed), plan_string(df)


def test_vocab_coverage_probe_is_broadcast(spark, sf_dir):
    """The top-K vocab (K rows) must broadcast into the exploded-token
    probe — a shuffle join on the token axis would move the whole
    corpus to co-locate with a 20-row build side."""
    df = QUERIES["q_text_vocab_coverage"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(
        s == "BroadcastHashJoin" for s in strategies
    ), strategies


def test_stream_semi_is_semi_join_not_distinct(spark, sf_dir):
    """Left-semi must appear as a semi JOIN strategy — an inner join
    followed by a distinct would be a second stateful operator in the
    streaming form and a second shuffle in batch."""
    df = QUERIES["q_stream_stream_semi"](spark, sf_dir)
    s = plan_string(df)
    assert "LeftSemi" in s, s
    assert "HashAggregate" in s  # the day rollup, not a dedup


def test_simhash_portable_never_all_pairs(spark, sf_dir):
    """The banded bucket join must stay an equi-join: no cartesian or
    broadcast-nested-loop fallback (the O(n²) shapes)."""
    df = QUERIES["q_dedup_simhash_portable"](spark, sf_dir)
    s = plan_string(df)
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_dq_expectations_single_pass(spark, sf_dir):
    """All six rules must fold into one aggregation over one scan —
    per-rule rescans multiply the table-read cost by the rule count."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.plans.inspect import read_schemas

    df = QUERIES["q_dq_expectations"](spark, sf_dir)
    assert len(read_schemas(df)) == 1, plan_string(df)


def test_existence_mark_plans_existence_join(spark, sf_dir):
    """The projected IN/EXISTS marks must plan as ExistenceJoin hash
    joins (flag-attaching, row-preserving) — NOT decorrelate to
    semi/anti (which would drop rows) and NOT fall back to a per-row
    subquery or nested loop."""
    df = QUERIES["q_join_existence_mark"](spark, sf_dir)
    s = plan_string(df)
    assert "ExistenceJoin" in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "CartesianProduct" not in s, s
