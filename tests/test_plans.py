"""Plan-shape assertions: the properties that make the headline queries
scale (pushdown, pruning, broadcast, top-k, codegen) are pinned here so a
regression in query construction fails CI, not a 100 TB run."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from projetos_etl_spark.plans import (
    codegen_stage_count,
    has_operator,
    op_counts,
    partition_filters,
    plan_nodes,
    pushed_filters,
    read_schemas,
)
from projetos_etl_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def _has_below(df, upper: str, lower: str) -> bool:
    """Some ``upper`` operator has a ``lower`` operator beneath it."""
    return any(
        d.name == lower
        for n in plan_nodes(df)
        if n.name == upper
        for d in n.walk()
        if d is not n
    )


def _hash_exchanges(df) -> int:
    return sum(
        n.name == "ShuffleExchange" and n.partitioning == "HashPartitioning"
        for n in plan_nodes(df)
    )


def _window_leads(nodes) -> list[str]:
    """The leading key of every Window spec: its first partition key,
    else (an un-partitioned window) its first ordering."""
    return [
        (n.exprs("partitionSpec") + n.exprs("orderSpec"))[0]
        for n in nodes
        if n.name == "Window"
    ]


def test_q1_filter_pushed_and_columns_pruned(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    (cols,) = read_schemas(df)
    # 7 needed columns, not all 11.
    assert cols == {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }


def test_filter_pred_all_predicates_pushed(spark, queries):
    df = queries["filter_pred"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_quantity", "l_discount", "l_shipdate"):
        assert col in pushed


def test_join_broadcast_plans_broadcast_hash(spark, queries):
    df = queries["join_broadcast"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_limit_topk_plans_take_ordered(spark, queries):
    df = queries["limit_topk"](spark, SF)
    assert has_operator(df, "TakeOrderedAndProject")
    # No global sort materialization for a top-k.
    assert not has_operator(df, "GlobalLimit")


def test_partition_pruned_readback(spark, tmp_path):
    from projetos_etl_spark.sources.io import sink_partitioned

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    out = str(tmp_path / "layer")
    sink_partitioned(orders, out, ["o_orderstatus"])
    scan = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    # The filter lands on the partition column -> directory pruning
    # (PartitionFilters), NOT a data filter (no PushedFilters needed),
    # and the data columns read exclude the partition column itself.
    assert any("o_orderstatus" in f for f in partition_filters(scan))
    assert all("o_orderstatus" not in s for s in read_schemas(scan))


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both fact tables on the join key pre-partitions the data
    at write time — the co-located sort-merge join then needs NO Exchange
    (at 100 TB this converts the biggest shuffle in the pipeline into a
    local merge)."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("pes_orders_b")
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("pes_lineitem_b")
        )
        joined = spark.table("pes_lineitem_b").join(
            spark.table("pes_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        counts = op_counts(joined)
        assert counts["SortMergeJoin"] == 1
        assert counts["ShuffleExchange"] == 0, counts
        # And the join result is right.
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pes_orders_b")
        spark.sql("DROP TABLE IF EXISTS pes_lineitem_b")


def test_salted_join_spreads_key_and_matches_plain(spark):
    from projetos_etl_spark.operators.salt import salted_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_suppkey", "l_quantity")
    supp = spark.read.parquet(f"{SF}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    salted = salted_join(li, supp, on=["l_suppkey"], n_salts=8)
    plain = li.join(supp, on="l_suppkey")
    assert salted.count() == plain.count()
    # The physical join key includes the salt column.
    keys = [
        k
        for n in plan_nodes(salted)
        if n.name in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        for k in n.exprs("leftKeys")
    ]
    assert any("__salt" in k for k in keys), keys


def test_aqe_splits_skewed_join(spark):
    """VERDICT r2 item 4: SCALE.md leans on AQE skew handling for the
    fact-fact join path — pin that a deliberately skewed shuffle join
    actually triggers AQE's skew-join split on this box (thresholds
    lowered to local-scale sizes; 90% of rows on one key, incompressible
    payload so the skewed partition's shuffle BYTES exceed the
    threshold). The final adaptive plan must carry a skew-split
    ``SortMergeJoin``. The salted-join fallback for the cases
    AQE can't re-plan (aggregations, pre-AQE engines) is covered by
    test_salted_join_spreads_key_and_matches_plain."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 100_000).select(
            (F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 997)).alias("k"),
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
            ).alias("pad"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("d").alias("v"))
        joined = big.join(dim, "k")
        # Execute the join's OWN query execution (count() would build a
        # separate one), then read the final adaptive plan.
        n = joined._jdf.queryExecution().executedPlan().execute().count()
        assert n == 100_000
        assert joined._jdf.queryExecution().executedPlan().isFinalPlan()
        smjs = [n for n in plan_nodes(joined) if n.name == "SortMergeJoin"]
        assert any(n.j.isSkewJoin() for n in smjs), smjs
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q1_wholestage_codegen_present(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF)
    assert codegen_stage_count(df) >= 1


def test_medallion_conform_is_narrow(spark, queries):
    # The silver transform must be shuffle-free: no Exchange in the plan.
    counts = op_counts(queries["medallion_silver_conform"](spark, SF))
    assert counts["ShuffleExchange"] == counts["BroadcastExchange"] == 0, counts


def test_q9_dims_broadcast_one_fact_shuffle(spark, queries):
    """Q9: part/supplier/nation broadcast; only lineitem-orders shuffles."""
    df = queries["q9_product_profit"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    # the LIKE filter on part must prune before the join (scan-level)
    assert any("p_name" in f for f in pushed_filters(df))


def test_contamination_benchmark_side_broadcast(spark, queries):
    """Contamination check: the benchmark shingle set must broadcast —
    a sort-merge join here would shuffle the full corpus shingle stream."""
    df = queries["text_contamination_ngram"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")


def test_vocab_topk_plans_take_ordered(spark, queries):
    df = queries["text_vocab_topk"](spark, SF)
    assert has_operator(df, "TakeOrderedAndProject")


def test_unigram_logprob_vocab_broadcast(spark, queries):
    df = queries["text_unigram_logprob"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")


def test_q16_exclusion_is_broadcast_anti_join(spark, queries):
    df = queries["q16_supplier_count"](spark, SF)
    # NOT IN complaint list must plan as a broadcast anti join
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_dynamic_partition_pruning(spark, queries, tmp_path):
    """A fact table partitioned on the join key, joined to a filtered
    dim, must plan a dynamic-partition-pruning subquery on the fact scan
    — at 100 TB this is the difference between scanning one partition
    and scanning the table. Pinned here because losing DPP (e.g. by
    disabling AQE-compatible layouts or filtering after the join) is
    silent at test scale."""
    from projetos_etl_spark.sources.io import load_table, sink_partitioned

    out = str(tmp_path / "orders_part")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    sink_partitioned(orders, out, ["o_orderstatus"])
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        ["status", "label"],
    ).filter(F.col("label") == "finished")
    joined = fact.join(dim, fact.o_orderstatus == dim.status).groupBy(
        "o_orderpriority"
    ).count()
    filters = partition_filters(joined)
    assert any("dynamicpruning" in f for f in filters), filters


def test_q17_q20_dims_broadcast_no_smj(spark, queries):
    """Round-2 TPC-H additions must keep the dims-broadcast posture: the
    filtered part keys broadcast into the fact scan; no SortMergeJoin,
    no cartesian anywhere in either plan."""
    for name in ("q17_small_quantity_revenue", "q20_concentrated_suppliers"):
        df = queries[name](spark, SF)
        assert has_operator(df, "BroadcastHashJoin"), name
        assert not has_operator(df, "SortMergeJoin"), name
        assert not has_operator(df, "CartesianProduct"), name


def test_tfidf_df_table_broadcast(spark, queries):
    """TF-IDF's document-frequency table is vocabulary-bounded and must
    broadcast back onto the term stream (scoring stays map-side)."""
    df = queries["text_tfidf_topk"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_resample_pick_is_hash_aggregate(spark, queries):
    """ts_resample_ffill's per-hour pick must plan as a combinable
    hash aggregate (max_by over a struct), NOT a row_number window —
    the window formulation would sort every partition before picking."""
    counts = op_counts(queries["ts_resample_ffill"](spark, SF))
    # exactly one Window in the plan: the forward-fill itself
    assert counts["Window"] <= 1
    assert counts["HashAggregate"]


def test_gap_islands_single_exchange_reused(spark, queries):
    """win_gap_islands' window pass and final aggregate both key on
    user_id — Catalyst must plan ONE shuffle on the user key (plus the
    distinct's), not re-exchange between the window and the groupBy."""
    df = queries["win_gap_islands"](spark, SF)
    # Exchanges: distinct (user_id, h) + window/groupBy key. The groupBy
    # on (user_id, g) must NOT add a third: its rows are already
    # partitioned by user_id, which the (user_id, g) clustering accepts.
    assert _hash_exchanges(df) == 2
    assert has_operator(df, "Window")


def test_resample_to_mix_thresholds_broadcast(spark, queries):
    """corpus_resample_to_mix's per-source threshold table (~20 rows)
    must reach the corpus scan as a BroadcastHashJoin — shuffling the
    corpus on `source` to apply a 20-row filter would be the exact
    anti-pattern the operator exists to avoid."""
    df = queries["corpus_resample_to_mix"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_decayed_sum_is_single_hash_aggregate(spark, queries):
    """agg_time_decayed_sum must plan as partial+final hash aggregates
    (map-combinable) with the reference timestamp broadcast — no window,
    no sort of the fact table."""
    counts = op_counts(queries["agg_time_decayed_sum"](spark, SF))
    assert counts["HashAggregate"] and not counts["Window"]
    assert counts["BroadcastNestedLoopJoin"] or counts["BroadcastHashJoin"]


def test_feat_scale_normalize_broadcasts_stats(spark, queries):
    """The fit/transform re-join must be a broadcast of the tiny stats
    table — a shuffled join here would re-shuffle the whole fact side
    at 100 TB for a handful of per-group scalars."""
    df = queries["feat_scale_normalize"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_feat_target_encode_broadcasts_stats(spark, queries):
    df = queries["feat_target_encode_loo"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_join_null_safe_stays_hash_join(spark, queries):
    """EqualNullSafe must remain a hash-joinable key (NULL hashes to its
    own bucket) — falling back to BroadcastNestedLoopJoin would turn the
    enrichment into an O(n*m) scan."""
    df = queries["join_null_safe"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_quantile_bucketize_no_window(spark, queries):
    """Bucket assignment must be the broadcast-fold plan — an NTILE
    formulation would plan a Window over a single global sort."""
    df = queries["feat_quantile_bucketize"](spark, SF)
    assert not has_operator(df, "Window")


def test_zorder_stats_no_window_no_global_sort_for_bucketing(spark, queries):
    """Prefix bucketing maps each row independently: the only Sort in
    the plan is the final 16-row orderBy, never a pre-aggregation
    total order; no Window anywhere."""
    df = queries["maintenance_zorder_stats"](spark, SF)
    assert not has_operator(df, "Window")
    assert has_operator(df, "HashAggregate")


def test_interval_overlap_is_hash_join(spark, queries):
    """The grid-bucket trick must keep the overlap join an EQUI hash
    join — a nested-loop fallback would mean the range predicate leaked
    into the join condition."""
    df = queries["join_interval_overlap"](spark, SF)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_onehot_topn_broadcasts_vocab(spark, queries):
    df = queries["feat_onehot_topn"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_runtime_bloom_filter_injected(spark, queries):
    """join_bloom_prune's 100 TB story: when the filtered build side is
    too big to broadcast, Catalyst injects a runtime bloom filter
    (``might_contain``) on the application-side scan so pruned lineitem
    rows never enter the shuffle. Broadcast is disabled here to force
    the shuffle-join regime the entry documents (locally the filtered
    side is tiny, so the entry itself plans BHJ)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = queries["join_bloom_prune"](spark, SF)
        filters = [n for n in plan_nodes(df) if n.name == "Filter"]
        assert any("might_contain" in str(n.j.condition()) for n in filters)
        assert df.count() > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_count_dims_broadcast(spark, queries):
    """The triangle edge build is a star join: customer/supplier dims
    must broadcast (no SortMergeJoin for them); the wedge/closing joins
    run on the 25-node oriented edge list and are trivially small."""
    df = queries["graph_triangle_count"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")


def test_weighted_median_preaggregates_before_window(spark, queries):
    """agg_weighted_median must hash-aggregate (group, value) BEFORE the
    window sort — the window then runs over distinct values, not raw
    rows. A plan whose Window consumes the scan directly would sort the
    full fact table at 100 TB."""
    df = queries["agg_weighted_median"](spark, SF)
    assert _has_below(df, "Window", "HashAggregate")


def test_weighted_reservoir_plans_take_ordered(spark, queries):
    """A-ES weighted sampling must plan TakeOrderedAndProject —
    per-partition k-row heaps merged on the driver. A global Sort +
    Limit here would total-sort the corpus at 100 TB."""
    df = queries["sample_weighted_reservoir"](spark, SF)
    assert has_operator(df, "TakeOrderedAndProject")
    assert not has_operator(df, "GlobalLimit")


def test_pareto_window_runs_over_customer_grain(spark, queries):
    """The concentration window must consume the customer-grain
    REDUCE (HashAggregate below Window), never raw orders — the
    pre-aggregation is what bounds window state at scale."""
    df = queries["agg_pareto_concentration"](spark, SF)
    assert _has_below(df, "Window", "HashAggregate")


def test_corr_matrix_single_scan_single_aggregate(spark, queries):
    """All 15 moments must come from ONE reduce over ONE scan; the 6-pair
    matrix is driver-assembled (a union of per-pair selects measured 12
    FileScans with zero reuse)."""
    df = queries["agg_corr_matrix"](spark, SF)
    # The returned frame is built from the collected stats row: the
    # lineitem scan (or any other) must NOT appear in it at all.
    assert not has_operator(df, "FileSourceScan")


def test_bipartite_projection_edges_materialized_once(spark, queries):
    """The orders x lineitem edge build must be a checkpointed leaf, so
    the degree filter and both self-join sides read it instead of
    re-planning the join (static plan had 8 FileScans, 0 reuse)."""
    counts = op_counts(queries["graph_bipartite_projection"](spark, SF))
    assert counts["FileSourceScan"] == 0, (
        "edge set should be a checkpointed ExistingRDD leaf; fact scans "
        "reappeared in the projection plan"
    )
    assert counts["RDDScan"]


def test_pca_scoring_is_codegen_only(spark, queries):
    """The per-vector scoring pass must be a pure projection over the
    scan — no Python stage, no shuffle (the Arrow mapInPandas stage
    belongs to the TRAINING pass, which is already collected by entry
    build time). Its only exchange is the final orderBy's range
    shuffle."""
    df = queries["emb_pca_top_component"](spark, SF)
    counts = op_counts(df)
    assert not counts["ArrowEvalPython"] and not counts["BatchEvalPython"]
    assert _hash_exchanges(df) == 0


#: A window PARTITIONED by distributed_prefix_sum's range-partition id
#: (the spec leads with its partition key; an offsets window that only
#: ORDERS by the id leads with "_pid#N ASC ...").
_PID_PARTITION_KEY = re.compile(r"_pid#\d+")


def test_ntile_scale_no_single_partition_over_input(spark, queries):
    """win_ntile_scale's contract at 100 TB: the input is range-shuffled
    ONCE, inside the checkpoint build, and both the totals and the ranked
    branch read that one table (an independently re-sampled second range
    exchange would mis-pair pids and offsets). The only SinglePartition
    exchange is over the one-row-per-range totals under the broadcast,
    and no window orders the un-partitioned input (the exact variant)."""
    df = queries["win_ntile_scale"](spark, SF)
    df.collect()
    assert df._jdf.queryExecution().executedPlan().isFinalPlan()
    nodes = plan_nodes(df)
    assert not any(n.name == "FileSourceScan" for n in nodes)
    # the range shuffle ran in the checkpoint job: both leaves carry its
    # partitioning, read one RDD, and no Exchange here range-partitions
    exchanges = [n for n in nodes if n.name == "ShuffleExchange"]
    assert not any(e.partitioning == "RangePartitioning" for e in exchanges)
    leaves = [n for n in nodes if n.name == "RDDScan"]
    assert len(leaves) == 2, leaves
    assert all(n.partitioning == "RangePartitioning" for n in leaves)
    assert len({n.j.rdd().id() for n in leaves}) == 1
    broadcast = {
        id(d) for n in nodes if n.name == "BroadcastExchange" for d in n.walk()
    }
    assert not any(
        e.partitioning == "SinglePartition" and id(e) not in broadcast
        for e in exchanges
    ), (
        "a SinglePartition exchange appeared on the data path - the "
        "scale-safe ntile degenerated into the exact variant's plan"
    )
    assert any(n.name == "BroadcastHashJoin" for n in nodes)  # offsets re-join
    leads = _window_leads(nodes)
    assert any(_PID_PARTITION_KEY.fullmatch(k) for k in leads), leads
    assert not any(k.startswith("o_totalprice#") for k in leads), leads


def test_max_concurrency_scale_no_global_window_over_stream(spark, queries):
    """win_max_concurrency_scale's whole point: the running level must
    come from a pid-PARTITIONED window over the checkpointed ranged
    stream plus broadcast offsets — never from the exact variant's
    un-partitioned window ordered by at_ts. (The range exchange itself
    sits inside the eager checkpoint job, so the returned plan reads the
    materialized stream; the pin is on the window specs.)"""
    df = queries["win_max_concurrency_scale"](spark, SF)
    df.collect()
    nodes = plan_nodes(df)
    leads = _window_leads(nodes)
    assert any(_PID_PARTITION_KEY.fullmatch(k) for k in leads), (
        "pid-partitioned run window lost"
    )
    # no window spec orders the full delta stream globally
    assert not any(k.startswith("at_ts#") for k in leads), (
        "an un-partitioned window over the delta stream reappeared - "
        "the scale twin degenerated into the exact variant's plan"
    )
    assert any(n.name == "BroadcastHashJoin" for n in nodes)  # offsets re-join


def test_max_concurrency_scale_no_global_window(spark, queries):
    """win_max_concurrency_scale's running level must come from
    per-range-partition prefix sums (windows keyed on _pid), never a
    window over the un-partitioned delta stream — the documented
    single-partition sweep its exact twin pays."""
    df = queries["win_max_concurrency_scale"](spark, SF)
    df.collect()
    leads = _window_leads(plan_nodes(df))
    assert any(_PID_PARTITION_KEY.fullmatch(k) for k in leads)
    assert not any(k.startswith("at_ts#") for k in leads)


def test_ewma_anomaly_no_window_no_python(spark, queries):
    """ts_ewma_anomaly computes the per-key EWMA as a JVM array fold
    (F.aggregate over collected spans) — the plan must contain neither a
    Window operator nor a Python eval node; either would mean the hot
    path fell off the codegen'd aggregate shape SCALE.md documents."""
    counts = op_counts(queries["ts_ewma_anomaly"](spark, SF))
    assert not counts["Window"]
    assert not any(n.endswith("EvalPython") for n in counts)  # Batch/Arrow


def test_kneser_ney_joins_are_broadcast(spark, queries):
    """corpus_kneser_ney_bigram joins the bigram table to vocab-bounded
    continuation/unigram sides — those sides must broadcast; a
    SortMergeJoin would re-shuffle the full bigram leaf per join."""
    df = queries["corpus_kneser_ney_bigram"](spark, SF)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_kcore_one_edge_join_checkpointed_leaves_no_window(spark, queries):
    """graph_kcore_decomposition's final-round plan (representative of
    every peeling round) must be one edge-join shuffle + one
    partial+final HashAggregate over CHECKPOINTED leaves: localCheckpoint
    truncates lineage each round, so the plan never re-derives the
    orders x lineitem bipartite build nor grows with KCORE_ROUNDS. A
    FileScan leaf here means the checkpoint was dropped (plan blow-up and
    a re-scan per round at 100 TB); a Window/Python/nested-loop node
    means the peeling fell off the join+aggregate shape PLANS.md pins."""
    counts = op_counts(queries["graph_kcore_decomposition"](spark, SF))
    assert counts["RDDScan"]  # checkpointed leaves only
    assert not counts["FileSourceScan"]
    assert not counts["Window"]
    assert not any(n.endswith("EvalPython") for n in counts)
    assert not counts["CartesianProduct"]
    assert not counts["BroadcastNestedLoopJoin"]
    # Exactly one aggregate pair: the within-subgraph degree sum.
    assert counts["HashAggregate"] == 2


def test_lpa_round_hash_aggregates_one_shuffled_hash_join(spark):
    """graph_label_propagation's per-round plan (the fixpoint loop's hot
    path): the label join is ONE shuffled-hash join (no sort-merge sort
    of the edge side), the vote histogram and the packed-long argmax are
    two partial+final HashAggregate pairs (a max over a struct would
    fall back to SortAggregate), nothing sorts, and the vote shuffle is
    the round's only exchange. The round is the one tools/gen_plans.py
    renders as the entry's per-iteration plan: a joined round, labels
    from one prior checkpointed round."""
    from tools.gen_plans import ITERATIONS

    counts = op_counts(ITERATIONS["graph_label_propagation"](spark, SF))
    assert counts["Sort"] == counts["SortAggregate"] == 0, counts
    assert counts["ShuffledHashJoin"] == 1, counts
    assert counts["HashAggregate"] == 4, counts
    # The vote shuffle only: the edges and the labels both arrive
    # hash-partitioned on the join key into the same partitions.
    assert counts["ShuffleExchange"] == 1, counts


@pytest.mark.parametrize("name", ["graph_kcore_decomposition", "graph_pagerank"])
def test_graph_round_keeps_edge_checkpoint_layout(spark, name):
    """The k-core and PageRank rounds (tools/gen_plans.py ITERATIONS)
    join the edge checkpoint on its partition key, so it is never
    re-shuffled: three exchanges at any scale, all of them node-scale
    or the one aggregate shuffle (k-core: the alive side twice and the
    degree groupBy; PageRank: the rank side, the inflow groupBy and the
    dangling-mass total)."""
    from tools.gen_plans import ITERATIONS

    counts = op_counts(ITERATIONS[name](spark, SF))
    assert counts["ShuffleExchange"] == 3, counts


def test_unscored_row_filters_reach_the_scan(spark, queries):
    """The r8 NULL-hardening filters (unscored rows excluded from
    AUC/calibration) must be PushedFilters on the parquet scan — an
    exclusion applied post-scan would still read every NULL-holed row
    group at 100 TB."""
    from projetos_etl_spark.plans import pushed_filters

    assert "IsNotNull(value)" in pushed_filters(
        queries["eval_auc_roc"](spark, SF)
    )
    assert "IsNotNull(value)" in pushed_filters(
        queries["eval_calibration_bins"](spark, SF)
    )
