"""checkpoint_partitioned: the r14 iterative-join layout contract.

The graph fixpoints (LPA, k-core, PageRank) and the bipartite
projection re-join one materialized table on one key every round; the
helper must (a) hand the planner a KNOWN hash partitioning so no
iteration re-shuffles that side, (b) size the partition count from the
data, not a constant, and (c) change nothing about the rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projetos_etl_spark.plans import op_counts
from projetos_etl_spark.sources.io import checkpoint_partitioned


def _n_exchanges(df) -> int:
    counts = op_counts(df)
    return counts["ShuffleExchange"] + counts["BroadcastExchange"]


@pytest.fixture(scope="module")
def edges(spark):
    # Big enough that the size heuristic picks MULTIPLE partitions
    # (~24 MB estimated at 24 B/row): a single-partition layout is
    # where the planner may still legitimately re-shuffle.
    return spark.range(1_000_000).select(
        (F.col("id") % 1000).alias("src"), (F.col("id") % 777).alias("dst")
    )


def test_preserves_hash_partitioning_for_joins(spark, edges):
    ep = checkpoint_partitioned(edges, "src")
    labels = spark.range(1000).select("id", F.col("id").alias("label"))
    joined = ep.join(labels.hint("shuffle_hash"), ep.src == labels.id)
    # Only the labels side may shuffle; the checkpointed side must not.
    assert _n_exchanges(joined) == 1
    # And an aggregate keyed on the layout runs exchange-free.
    assert _n_exchanges(ep.groupBy("src").count()) == 0


def test_keyless_call_keeps_existing_layout(spark, edges):
    ep = checkpoint_partitioned(edges, "src")
    again = checkpoint_partitioned(ep.filter(F.col("dst") >= 0))
    # Filter preserves the hash layout; the keyless checkpoint must too.
    assert _n_exchanges(again.groupBy("src").count()) == 0


def test_partition_count_is_size_derived(spark, edges):
    small = checkpoint_partitioned(spark.range(100).select(F.col("id").alias("src")), "src")
    assert small.rdd.getNumPartitions() == 1
    cap = 2 * spark.sparkContext.defaultParallelism
    big = checkpoint_partitioned(edges, "src")
    assert 1 <= big.rdd.getNumPartitions() <= cap


def test_rows_unchanged_and_aqe_restored(spark, edges):
    before = spark.conf.get("spark.sql.adaptive.enabled")
    ep = checkpoint_partitioned(edges, "src", sort=True)
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert ep.count() == edges.count()
    assert ep.agg(F.sum("src"), F.sum("dst")).first() == edges.agg(
        F.sum("src"), F.sum("dst")
    ).first()
    # Two overlapping calls from two threads, the later one slower: it
    # finishes last, so without the module lock it would restore the
    # "false" it read while the first call held AQE off.
    import time
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(checkpoint_partitioned, edges.limit(1000))
        time.sleep(0.05)
        second = pool.submit(checkpoint_partitioned, edges)
        assert first.result().count() == 1000
        assert second.result().count() == edges.count()
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_lpa_packed_argmax_matches_struct_argmax(spark):
    # The packed-long histogram argmax (registry/dedup._lpa_step) must
    # pick exactly what max(struct(cnt, -label)) picked: max count,
    # ties to the SMALLEST label.
    from projetos_etl_spark.registry.dedup import _LPA_PACK

    rows = [(1, 10, 3), (1, 11, 3), (2, 5, 1), (2, 7, 1), (2, 7, 2)]
    hist = spark.createDataFrame(rows, "nid int, label long, cnt long")
    packed = (
        hist.groupBy("nid")
        .agg(
            F.max(
                F.col("cnt") * F.lit(_LPA_PACK)
                + (F.lit(_LPA_PACK - 1) - F.col("label"))
            ).alias("p")
        )
        .select(
            "nid",
            (F.lit(_LPA_PACK - 1) - F.pmod(F.col("p"), F.lit(_LPA_PACK))).alias(
                "label"
            ),
        )
    )
    struct_max = (
        hist.groupBy("nid")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("t"))
        .select("nid", (-F.col("t.neg")).alias("label"))
    )
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, struct_max.collect())
    )
