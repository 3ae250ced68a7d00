"""Regenerate PLANS.md: the formatted physical plans of representative
queries, with the scale property each one evidences. Run from the repo
root: ``python tools/gen_plans.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projetos_etl_spark.registry import all_queries  # noqa: E402
from projetos_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

#: (entry, the plan property a reviewer should check)
SHOWCASE = [
    ("q1_pricing_summary", "PushedFilters on l_shipdate; ReadSchema is the 7 needed columns of 11; one partial+final HashAggregate pair (map-side combine); WholeStageCodegen spans the scan->project->partial-agg pipeline."),
    ("join_broadcast", "BroadcastHashJoin with the dim side under BroadcastExchange; no SortMergeJoin, no shuffle of the fact side for the join."),
    ("limit_topk", "TakeOrderedAndProject (per-partition top-k then merge) instead of a global Sort + GlobalLimit."),
    ("feat_quantile_bucketize", "Bucket assignment is a broadcast nested-loop of a ONE-ROW boundary table over the scan (9 comparisons/row, no Window, no global sort); final 10-group aggregate."),
    ("feat_scale_normalize", "Stats re-join is BroadcastHashJoin — the fact side is never exchanged for the join."),
    ("join_null_safe", "EqualNullSafe key still plans a BroadcastHashJoin (NULL hashes to its own bucket) — not a nested-loop fallback."),
    ("maintenance_zorder_stats", "Morton interleave + prefix bucket is pure projection codegen; the only wide op is the 16-group HashAggregate; the only Sort is the 16-row final orderBy."),
    ("dedup_near_minhash", "Signature and capped-bucket tables materialized once (the Scan ExistingRDD leaves) so the md5 digest subtree appears ZERO times here instead of four; banded self-join on (band_id, band_key) equi-keys. The cap itself ran inside the checkpointed subplan as WindowGroupLimit partial+final (a per-bucket top-k, not a full sort)."),
    ("ts_resample_ffill", "Per-hour pick is a combinable max_by hash aggregate (partial+final), NOT a row_number window; spine generation is distributed sequence+explode; one user_id exchange serves dedup, window, and join."),
    ("agg_rollup", "Expand + single shuffle produces all grouping sets; partial aggregation before the exchange."),
    ("agg_weighted_median", "HashAggregate over (group, value) runs BELOW the Window — the window sort sees one row per distinct value, never the raw fact rows."),
    ("graph_triangle_count", "Edge build is a star join (customer/supplier dims under BroadcastExchange); wedge + closing joins run on the deduped 25-node oriented edge list."),
    ("emb_pca_top_component", "Corpus pass is ONE ArrowEvalPython/mapInPandas stage emitting per-batch Gram partials; the reduce is a <=d^2-group hash aggregate; scoring is a codegen-only projection against literal arrays (no Python, no shuffle on the scoring side)."),
    ("graph_bipartite_projection", "The distinct edge set is a checkpointed Scan ExistingRDD leaf, so the orders x lineitem join subtree appears ONCE; degree filter and both self-join sides read the materialized edges; top-k is TakeOrderedAndProject."),
    ("agg_corr_matrix", "All 15 raw moments come from a single partial+final HashAggregate pair over one scan; the 6-pair matrix is driver-assembled from that one row (no repeated scans, no union of per-pair subplans)."),
    ("corpus_kneser_ney_bigram", "ONE bigram-count shuffle feeds four aggregates (context totals, follower counts, predecessor counts, type total) via a checkpointed Scan ExistingRDD leaf; all re-joins are BroadcastHashJoin; top-k is TakeOrderedAndProject."),
    ("win_max_concurrency", "The +1/-1 sweep's global Window sorts the SESSION-SPAN deltas (2 rows per session), not events: the event->span reduction is a partial+final HashAggregate below the union, and the peak pick is a 1-row broadcast scalar join."),
    ("win_ntile_scale", "Exact global deciles with NO single-partition window over the input: distributed_prefix_sum's rangepartitioning (defaultParallelism ranges) runs inside the eager checkpoint build, so both branches read the one Scan ExistingRDD; per-range running count (Window partitioned by _pid); the only Exchange SinglePartition sits over the one-row-per-range totals aggregate; offsets re-join is BroadcastHashJoin; the bucket arithmetic is integer div/% codegen."),
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


def main() -> None:
    spark = get_spark(app_name="gen-plans")
    reg = all_queries()
    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        "Generated by `python tools/gen_plans.py` (Spark "
        + spark.version
        + f", fixtures {SF}, AQE on). Each section states the plan",
        "property the query is DESIGNED to have, then the",
        "`explain('formatted')` output proving it. Regenerate after any",
        "change to these queries; tests/test_plans.py pins the same",
        "properties mechanically.",
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
    def explain(name: str) -> str:
        df = reg[name](spark, SF)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    for name, claim in SHOWCASE:
        out += [f"## {name}", "", f"**Property:** {claim}", "", "```", explain(name).rstrip(), "```", ""]
    for name, claim, confs in SHOWCASE_CONF:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            conf_note = ", ".join(f"`{k}={v}`" for k, v in confs.items())
            out += [
                f"## {name}",
                "",
                f"**Property:** {claim}",
                "",
                f"**Confs (local-scale trigger):** {conf_note}",
                "",
                "```",
                explain(name).rstrip(),
                "```",
                "",
            ]
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
