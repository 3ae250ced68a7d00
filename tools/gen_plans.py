"""Physical plans of registry entries, rendered for review.

    python tools/gen_plans.py              # regenerate PLANS.md
    python tools/gen_plans.py NAME [...]   # print each entry's plans

Run from the repo root. Fixtures come from ``$SPARK_GRAFT_SF_DIR``
(default ``SF``, sf0.001). An iterative entry (graph fixpoint, ML loop)
returns a small collected result or a checkpoint leaf, so its per-iteration
plan — built from the same step function the entry loops over — comes
first: that is the plan each round executes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from projetos_etl_spark.plans import explain_str  # noqa: E402
from projetos_etl_spark.registry import all_queries  # noqa: E402
from projetos_etl_spark.session import get_spark  # noqa: E402
from projetos_etl_spark.sources.io import checkpoint_partitioned, load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def _lpa_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A joined LPA round: labels from one prior checkpointed round, as
    every round after the first reads them."""
    from projetos_etl_spark.registry.dedup import (
        _lpa_packable,
        _lpa_step,
        _undirected_purchases,
    )

    und = _undirected_purchases(spark, sf_dir, "src")
    n, packed = und.rdd.getNumPartitions(), _lpa_packable(und)
    labels = checkpoint_partitioned(_lpa_step(und, None, n, packed))
    return _lpa_step(und, labels, n, packed)


def _kcore_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projetos_etl_spark.registry.dedup import _kcore_step, _undirected_purchases

    und = _undirected_purchases(spark, sf_dir, "dst")
    ids = und.select(F.col("src").alias("id")).distinct()
    alive = ids.select("id", F.lit(True).alias("alive")).localCheckpoint(eager=True)
    return _kcore_step(und, alive)


def _pagerank_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projetos_etl_spark.operators.pagerank import DAMPING, _pr_prep, _pr_step
    from projetos_etl_spark.registry.dedup import _purchase_pairs

    edges = _purchase_pairs(spark, sf_dir).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    e, ranks = _pr_prep(edges.distinct(), "src", "dst")
    return _pr_step(e, ranks, ranks.count(), DAMPING)


def _kmeans_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projetos_etl_spark.operators.cosine import well_formed
    from projetos_etl_spark.operators.kmeans import _iteration_df
    from projetos_etl_spark.registry.similarity import EMB_DIM, KM_K

    data = (
        load_table(spark, sf_dir, "embeddings")
        .filter(well_formed("embedding", EMB_DIM) & F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("__id"),
            F.col("embedding").cast("array<double>").alias("__x"),
        )
        .localCheckpoint(eager=True)
    )
    seeds = data.orderBy("__id").limit(KM_K).collect()
    return _iteration_df(data, {int(r["__id"]): list(r["__x"]) for r in seeds})


def _logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projetos_etl_spark.operators.logreg import _grad_df

    feats = load_table(spark, sf_dir, "orders").select(
        F.lit(1.0).alias("x0"),
        (F.col("o_totalprice") / 500000.0).alias("x1"),
        ((F.year("o_orderdate") - 1995) / 4.0).alias("x2"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    feats = feats.localCheckpoint(eager=True)
    # representative non-initial weights
    return _grad_df(feats, ["x0", "x1", "x2"], "y", [0.0, 0.1, -0.2])


#: Iterative entry -> (spark, sf_dir) -> the DataFrame one of its rounds executes.
ITERATIONS = {
    "graph_label_propagation": _lpa_round,
    "graph_kcore_decomposition": _kcore_round,
    "graph_pagerank": _pagerank_round,
    "ml_kmeans_lloyd": _kmeans_round,
    "ml_logreg_gd": _logreg_step,
}

#: (entry, the plan property a reviewer should check)
SHOWCASE = [
    ("q1_pricing_summary", "PushedFilters on l_shipdate; ReadSchema is the 7 needed columns of 11; one partial+final HashAggregate pair (map-side combine); WholeStageCodegen spans the scan->project->partial-agg pipeline."),
    ("join_broadcast", "BroadcastHashJoin with the dim side under BroadcastExchange; no SortMergeJoin, no shuffle of the fact side for the join."),
    ("limit_topk", "TakeOrderedAndProject (per-partition top-k then merge) instead of a global Sort + GlobalLimit."),
    ("feat_quantile_bucketize", "Bucket assignment is a codegen fold of the 9 collected cut points (one constant array) over each scanned price (9 comparisons/row, no Window, no join, no global sort); final 10-group partial+final aggregate. The cuts are exact ranks from distributed_prefix_sum, collected before this plan is built."),
    ("feat_scale_normalize", "Stats re-join is BroadcastHashJoin — the fact side is never exchanged for the join."),
    ("join_null_safe", "EqualNullSafe key still plans a BroadcastHashJoin (NULL hashes to its own bucket) — not a nested-loop fallback."),
    ("maintenance_zorder_stats", "Morton interleave + prefix bucket is pure projection codegen; the only wide op is the 16-group HashAggregate; the only Sort is the 16-row final orderBy."),
    ("dedup_near_minhash", "Signature and capped-bucket tables materialized once (the Scan ExistingRDD leaves) so the md5 digest subtree appears ZERO times here instead of four; banded self-join on (band_id, band_key) equi-keys. The cap itself ran inside the checkpointed subplan as WindowGroupLimit partial+final (a per-bucket top-k, not a full sort)."),
    ("ts_resample_ffill", "Per-hour pick is a combinable max_by hash aggregate, NOT a row_number window, materialized once (the Scan ExistingRDD leaves); spine generation is distributed sequence+explode (Generate) over a partial+final per-user span aggregate; the one user_id exchange serves the spans, the fill join and the forward-fill Window."),
    ("agg_rollup", "Expand + single shuffle produces all grouping sets; partial aggregation before the exchange."),
    ("agg_weighted_median", "HashAggregate over (group, value) runs BELOW the Window — the window sort sees one row per distinct value, never the raw fact rows."),
    ("graph_triangle_count", "Edge build is a star join (customer/supplier dims under BroadcastExchange); wedge + closing joins run on the deduped 25-node oriented edge list."),
    ("emb_pca_top_component", "Corpus pass is ONE ArrowEvalPython/mapInPandas stage emitting per-batch Gram partials; the reduce is a <=d^2-group hash aggregate; scoring is a codegen-only projection against literal arrays (no Python, no shuffle on the scoring side)."),
    ("graph_bipartite_projection", "The distinct edge set is a checkpointed Scan ExistingRDD leaf, so the orders x lineitem join subtree appears ONCE; degree filter and both self-join sides read the materialized edges; top-k is TakeOrderedAndProject."),
    ("agg_corr_matrix", "All 15 raw moments come from a single partial+final HashAggregate pair over one scan; the 6-pair matrix is driver-assembled from that one row (no repeated scans, no union of per-pair subplans)."),
    ("corpus_kneser_ney_bigram", "ONE bigram-count shuffle feeds four aggregates (context totals, follower counts, predecessor counts, type total) via a checkpointed Scan ExistingRDD leaf; all re-joins are BroadcastHashJoin; top-k is TakeOrderedAndProject."),
    ("win_max_concurrency", "The +1/-1 sweep's global Window sorts the SESSION-SPAN deltas (2 rows per session), not events: the event->span reduction is a partial+final HashAggregate below the union, and the peak pick is ONE 1-row aggregate (max over a (level, -ts) struct), not a second pass over the level stream."),
    ("win_ntile_scale", "Exact global deciles with NO single-partition window over the input: distributed_prefix_sum's rangepartitioning (defaultParallelism ranges) runs inside the eager checkpoint build, so both branches read the one Scan ExistingRDD; per-range running count (Window partitioned by _pid); the only Exchange SinglePartition sits over the one-row-per-range totals aggregate; offsets re-join is BroadcastHashJoin; the bucket arithmetic is integer div/% codegen."),
    ("graph_label_propagation", "Each round after the first is ONE exchange, the vote shuffle. That exchange is hashpartitioning(nid, n): the edge checkpoint (hash on src) and the previous round's labels (hash on id, same n, kept by the keyless AQE-off checkpoint) feed the ShuffledHashJoin with no exchange on either side, and the vote histogram and the packed-long argmax are two partial+final HashAggregate pairs in the vote shuffle's stage. No Sort, no SortAggregate. The first round votes straight off the src-partitioned edges (no labels table, no join, no exchange). The entry's own plan is the community-size Window and the orderBy over the last round's checkpoint. Pinned by tests/test_plans.py::test_lpa_round_hash_aggregates_one_shuffled_hash_join."),
    ("graph_kcore_decomposition", "Each peeling round is ONE edge join + ONE partial+final HashAggregate pair over checkpointed Scan ExistingRDD leaves. The node-scale alive flags are the ShuffledHashJoin build side against the edge list checkpointed on dst by checkpoint_partitioned (read in place: its hash layout is never re-shuffled), the aggregate counts each node's alive neighbors, and a node-scale left join folds the degrees back onto the alive table. localCheckpoint truncates lineage every round, so round 6 plans the same size as round 1 (no re-derivation of the orders x lineitem build). No Window, no Python eval, no cartesian/nested-loop join; the entry's own plan is the final degree pass in the same shape plus the rangepartitioning orderBy that pins row order. Pinned by tests/test_plans.py::test_kcore_one_edge_join_checkpointed_leaves_no_window."),
]

#: Showcase entries whose interesting plan only appears under confs the
#: local fixtures are too small to trigger (each is (name, claim, confs)).
SHOWCASE_CONF = [
    (
        "join_bloom_prune",
        "With broadcast disabled (the >threshold dim regime this entry exists "
        "for), Catalyst injects a runtime bloom filter: BloomFilterAggregate "
        "over the filtered orders keys, might_contain(l_orderkey) applied on "
        "the lineitem side before its shuffle.",
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        },
    ),
]


def _plans(spark: SparkSession, reg: dict, name: str, sf: str) -> list[tuple[str, str]]:
    """(label, formatted plan) pairs for one entry: the per-iteration
    plan first for an iterative entry, then the entry's own plan."""
    out = []
    if name in ITERATIONS:
        out.append(("Per-iteration plan", explain_str(ITERATIONS[name](spark, sf))))
    out.append(("Entry plan", explain_str(reg[name](spark, sf))))
    return out


def _section(
    spark: SparkSession, reg: dict, sf: str, name: str, claim: str, notes: list[str]
) -> list[str]:
    out = [f"## {name}", "", f"**Property:** {claim}", ""] + notes
    rendered = _plans(spark, reg, name, sf)
    for label, plan in rendered:
        if len(rendered) > 1:
            out += [f"**{label}:**", ""]
        out += ["```", plan.rstrip(), "```", ""]
    return out


def _write_plans_md(spark: SparkSession, reg: dict, sf: str) -> None:
    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        "Generated by `python tools/gen_plans.py` (Spark "
        + spark.version
        + f", fixtures {sf}, AQE on). Each section states the plan",
        "property the query is DESIGNED to have, then the",
        "`explain('formatted')` output proving it (an iterative entry's",
        "per-iteration plan first). Regenerate after any change to these",
        "queries; tests/test_plans.py pins the same properties on the",
        "physical operator tree (`projetos_etl_spark/plans/inspect.py`).",
        "",
        "## Index",
        "",
        "| # | Entry | Property (gist) |",
        "|---|---|---|",
    ]
    all_sections = [(n, c) for n, c in SHOWCASE] + [
        (n, c) for n, c, _ in SHOWCASE_CONF
    ]
    for i, (name, claim) in enumerate(all_sections, 1):
        gist = claim.split(";")[0].split(". ")[0].rstrip(".")
        out.append(f"| {i} | [`{name}`](#{name.lower()}) | {gist} |")
    out.append("")
    for name, claim in SHOWCASE:
        out += _section(spark, reg, sf, name, claim, [])
    for name, claim, confs in SHOWCASE_CONF:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            conf_note = ", ".join(f"`{k}={v}`" for k, v in confs.items())
            note = [f"**Confs (local-scale trigger):** {conf_note}", ""]
            out += _section(spark, reg, sf, name, claim, note)
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main(names: list[str]) -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", SF)
    spark = get_spark(app_name="gen-plans")
    reg = all_queries()
    if not names:
        _write_plans_md(spark, reg, sf)
    for name in names:
        for label, plan in _plans(spark, reg, name, sf):
            print(f"== {name}: {label} ==\n{plan}")


if __name__ == "__main__":
    main(sys.argv[1:])
