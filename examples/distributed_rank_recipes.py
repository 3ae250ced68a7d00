"""The distributed-rank recipe, end to end — how to compute EXACT global
window results (ranks, ntile buckets, running sums) without the
single-reducer sort that an un-partitioned ``Window.orderBy`` plans.

When a global window shows up on a big table, call
``projetos_etl_spark.sources.io.distributed_prefix_sum(df, order, value)``
rather than re-building the recipe: it returns ``df`` plus ``cum``, the
exact inclusive global running sum of ``value`` over the total order
``order``, and ``total``. Both instances below are registry entries built
on it, and their oracles pin them to the EXACT single-window answer — the
scale variants are not approximations:

  deciles      ``win_ntile`` (single-partition window: fine on bounded
               outputs, a single-reducer sort on a 100 TB fact table)
               vs ``win_ntile_scale``: the prefix sum of 1 over the
               unique total sort key is the global rank, then ntile's
               bucket arithmetic as pure integer expressions.
  concurrency  ``win_max_concurrency`` vs ``win_max_concurrency_scale``:
               the prefix sum of the +1/-1 session deltas is the live
               concurrency level.

What the primitive does: (1) one range shuffle on the ordering key,
materialized before anything fans out from it; (2) the running sum runs
per range partition, in parallel; (3) the only single-partition work
left is over per-partition totals — #partitions rows, constant metadata
at any input scale. The ordering key must be UNIQUE when row identity
matters (ranks, sweeps): tied rows get consecutive ``cum`` values.

Run it:

    python examples/distributed_rank_recipes.py [sf_dir]

(defaults to /root/testdata/sf0.001; any sf dir works.)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from projetos_etl_spark.plans import plan_nodes
from projetos_etl_spark.registry.windows import (
    win_max_concurrency,
    win_max_concurrency_scale,
    win_ntile,
    win_ntile_scale,
)
from projetos_etl_spark.session import get_spark


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="distributed-rank-recipes")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"== distributed-rank recipes ({sf_dir}) ==")

    # 1. Exact global deciles: single-partition window vs the recipe.
    exact = win_ntile(spark, sf_dir)
    scale = win_ntile_scale(spark, sf_dir)
    mismatches = (
        exact.alias("a")
        .join(scale.alias("b"), "o_orderkey")
        .filter(F.col("a.decile") != F.col("b.decile"))
        .count()
    )
    n = exact.count()
    print(f"deciles: {n} orders ranked; assignments identical: {mismatches == 0}")

    # The plans tell the scale story: the naive variant sorts the WHOLE
    # table in one partition (SinglePartition exchange feeding the
    # window); the recipe's input-sized exchange is rangepartitioning,
    # and its only single-partition work is over per-partition counts.
    naive_single = any(
        n.name == "ShuffleExchange" and n.partitioning == "SinglePartition"
        for n in plan_nodes(exact)
    )
    scale_ranged = any(n.partitioning == "RangePartitioning" for n in plan_nodes(scale))
    print(f"naive plan has SinglePartition exchange: {naive_single}")
    print(f"scale plan range-partitions the input:   {scale_ranged}")

    # 2. Peak concurrency: the same split over a running sum.
    peak_exact = win_max_concurrency(spark, sf_dir).collect()[0]
    peak_scale = win_max_concurrency_scale(spark, sf_dir).collect()[0]
    same = (
        peak_exact["max_concurrent"] == peak_scale["max_concurrent"]
        and peak_exact["first_peak_ts"] == peak_scale["first_peak_ts"]
    )
    print(
        f"concurrency: peak={peak_scale['max_concurrent']} at "
        f"{peak_scale['first_peak_ts']}; exact/scale identical: {same}"
    )

    if mismatches == 0 and same:
        print("DISTRIBUTED RANK OK")
    spark.stop()
    if mismatches != 0 or not same:
        raise SystemExit(1)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
