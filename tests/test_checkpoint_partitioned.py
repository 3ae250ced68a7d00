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

from projetos_etl_spark.plans import op_counts, plan_nodes
from projetos_etl_spark.sources.io import checkpoint_partitioned


def _n_exchanges(df) -> int:
    counts = op_counts(df)
    return counts["ShuffleExchange"] + counts["BroadcastExchange"]


@pytest.fixture(scope="module")
def edges(spark):
    # Big enough that the size heuristic picks more than its floor of 2
    # partitions (~24 MB estimated at 24 B/row).
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


def test_small_checkpoint_keeps_hash_layout_for_joins(spark):
    # Sized at one partition, the keyed checkpoint is floored at 2: one
    # partition would plan as SinglePartition, which the planner does
    # not reuse as a join's hash layout, and re-shuffle this side.
    small = checkpoint_partitioned(
        spark.range(100).select(F.col("id").alias("src"), (F.col("id") % 7).alias("dst")),
        "src",
    )
    labels = spark.range(1000).select("id", F.col("id").alias("label"))
    nodes = plan_nodes(small.join(labels.hint("shuffle_hash"), small.src == labels.id))
    (leaf,) = [n for n in nodes if n.name == "RDDScan"]
    assert leaf.partitioning == "HashPartitioning"
    # Only the unpartitioned labels side shuffles.
    (exchange,) = [n for n in nodes if n.name.endswith("Exchange")]
    assert exchange.name == "ShuffleExchange"
    assert leaf not in exchange.walk()


def test_keyless_call_keeps_existing_layout(spark, edges):
    ep = checkpoint_partitioned(edges, "src")
    again = checkpoint_partitioned(ep.filter(F.col("dst") >= 0))
    # Filter preserves the hash layout; the keyless checkpoint must too.
    assert _n_exchanges(again.groupBy("src").count()) == 0


def test_partition_count_is_size_derived(spark, edges):
    small = checkpoint_partitioned(spark.range(100).select(F.col("id").alias("src")), "src")
    assert small.rdd.getNumPartitions() == 2  # the floor, not 1
    cap = 2 * spark.sparkContext.defaultParallelism
    big = checkpoint_partitioned(edges, "src")
    assert 2 < big.rdd.getNumPartitions() <= cap


def test_keyed_checkpoint_computes_its_input_once(spark):
    # 1: the count that fills the input's checkpoint (AQE off, so its
    # shuffle is in the same job). 2: the keyed shuffle into the result.
    sc = spark.sparkContext
    group = "test_keyed_checkpoint_computes_its_input_once"
    sc.setJobGroup(group, group)
    try:
        out = checkpoint_partitioned(spark.range(1000).select(F.col("id").alias("src")), "src")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert out.count() == 1000


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


def _edge_checkpoint(spark, pairs):
    """Both directions of each (a, b) pair, checkpointed on src as
    graph_label_propagation builds its edge table."""
    und = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return checkpoint_partitioned(spark.createDataFrame(und, "src long, dst long"), "src")


def _reference_lpa(pairs, rounds):
    """Synchronous LPA in plain Python: each node takes its neighbors'
    most frequent label, ties to the smallest."""
    from collections import Counter

    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: v for v in nbrs}
    for _ in range(rounds):
        label = {
            v: min(Counter(label[u] for u in us).items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v, us in nbrs.items()
        }
    return sorted(label.items())


def test_lpa_packed_argmax_matches_struct_argmax(spark):
    # The packed-long histogram argmax must pick exactly what the exact
    # struct argmax picks: max count, ties to the SMALLEST label. Node 1
    # hears 10 and 11 once each (a tie), node 2 hears 5 once and 7 twice
    # (7 is a repeated edge, which the histogram counts twice).
    from projetos_etl_spark.registry.dedup import _lpa_packable, _lpa_step

    und = _edge_checkpoint(spark, [(10, 1), (11, 1), (5, 2), (7, 2), (7, 2)])
    assert _lpa_packable(und)
    n = und.rdd.getNumPartitions()
    # The first round votes off the src-partitioned edges: no exchange.
    assert _n_exchanges(_lpa_step(und, None, n, True)) == 0
    first = checkpoint_partitioned(_lpa_step(und, None, n, True))
    for labels in (None, first):
        packed = _lpa_step(und, labels, n, True).collect()
        exact = _lpa_step(und, labels, n, False).collect()
        assert sorted(map(tuple, packed)) == sorted(map(tuple, exact))
    picked = dict(map(tuple, first.collect()))
    assert (picked[1], picked[2]) == (10, 7)


def test_lpa_outside_packed_domain_is_exact(spark):
    # Labels < 0 or >= 2^32 break the packed argmax (a negative label
    # carries into the count, a large one borrows from it); the domain
    # guard must route such a graph to the exact argmax.
    from projetos_etl_spark.registry.dedup import LPA_ITERS, _lpa_labels, _lpa_packable

    big = 1 << 32
    pairs = [
        (-3, big + 5), (-3, big + 6), (-3, 7), (-2, big + 5), (-2, 7),
        (big + 9, 7), (big + 9, -2), (-1, big + 6), (-1, 8), (0, -3),
    ]
    und = _edge_checkpoint(spark, pairs)
    assert not _lpa_packable(und)
    got = sorted(map(tuple, _lpa_labels(und).collect()))
    assert got == _reference_lpa(pairs, LPA_ITERS)
