"""Distributed PageRank by power iteration on DataFrames.

The iterative-algorithm representative alongside connected components
(``operators/components.py``): importance scoring over a directed graph
built from relational edges (here: the customer->supplier purchase graph
derived from orders x lineitem; on a crawl corpus the same operator ranks
the hyperlink graph that feeds crawl-frontier and quality decisions for
training-data pipelines — the original use of the algorithm).

Formulation (Page et al., "The PageRank Citation Ranking", 1999; damped,
dangling-aware, rank mass normalized to N):

    rank'(v) = (1 - d) + d * (sum_{u->v} rank(u)/deg(u) + dangling/N)

Scale posture (100 TB): each iteration is ONE shuffle join
(ranks x edges on src) plus ONE groupBy(dst) sum — both partitioned on
the vertex key, the same profile per round regardless of iteration
count. The dangling-mass term is a 1-row aggregate broadcast via
crossJoin (the repo's scalar-subquery pattern). Every round is eagerly
``localCheckpoint``-ed to truncate lineage — without it the plan tree
deepens per round and analysis time goes super-linear (same lesson as
components; see that module's docstring). Fixed ``iters`` keeps the
result deterministic across partitionings; the iteration count needed
for a given tolerance is O(log(1/eps)/log(1/d)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = DAMPING,
) -> DataFrame:
    """Ranks over the directed edge set: returns (id, rank) for every
    vertex appearing as src or dst. Rank mass sums to N (vertex count),
    so scores are comparable across graph sizes; divide by N for the
    probability formulation."""
    e, ranks = _pr_prep(edges, src, dst)
    n = ranks.count()
    for _ in range(iters):
        ranks = _pr_step(e, ranks, n, damping).localCheckpoint(eager=True)
    return ranks.select("id", "rank")


def _pr_prep(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, DataFrame]:
    """(edge table, initial rank table), each materialized once.

    The distinct-ed edge set is joined on ``src`` EVERY iteration:
    checkpoint it once, HASH-PARTITIONED ON ``src`` (r14, guide §2.4 —
    checkpoint_partitioned) so no iteration ever exchanges the
    edge-scale side again; the plain r13 checkpoint still paid one edge
    shuffle per round (across-job plans don't reuse exchanges, and an
    AQE-built checkpoint degrades to UnknownPartitioning).

    Vertex set + out-degree in ONE aggregate over the endpoint union
    (r13: was vertices-distinct + deg-groupBy + left-join — three
    exchanges and an extra checkpoint for the same (id, deg) table):
    src endpoints vote 1 into the out-degree, dst endpoints vote 0,
    so dst-only (dangling) vertices fall out with deg = 0 exactly as
    the old coalesce produced. out-degree rides along with the rank
    row so the per-iteration join touches only (ranks x edges)."""
    from projetos_etl_spark.sources.io import checkpoint_partitioned

    e = checkpoint_partitioned(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
        "src",
    )
    ranks = (
        e.select(F.col("src").alias("id"), F.lit(1).alias("isout"))
        .unionByName(e.select(F.col("dst").alias("id"), F.lit(0).alias("isout")))
        .groupBy("id")
        .agg(F.sum("isout").cast("long").alias("deg"))
        .select("id", "deg", F.lit(1.0).alias("rank"))
        .localCheckpoint(eager=True)
    )
    return e, ranks


def _pr_step(e: DataFrame, ranks: DataFrame, n: int, damping: float) -> DataFrame:
    """One power-iteration round.

    Each vertex's base row (deg, inflow 0) UNIONs with its inbound
    contributions, then ONE hash aggregate per iteration produces
    both the summed inflow and the carried-along degree — fusing
    the old groupBy(dst) + left-join-back-to-ranks pair (two wide
    shuffles) into a single shuffle on the vertex key. The rank->edge
    join streams the pre-partitioned edge side untouched and shuffles
    only the node-scale rank side, hinted shuffled-hash so the edge
    side is never sorted either (r14, guide §3.1)."""
    dangling = ranks.filter(F.col("deg") == 0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
    )
    contribs = (
        ranks.filter(F.col("deg") > 0)
        # The hinted side is the hash-join build side: held in memory
        # per partition, and Spark cannot spill it. Safe while one
        # partition of the node-scale rank table fits in executor memory.
        .hint("shuffle_hash")
        .join(e, F.col("id") == e.src)
        .select(
            F.col("dst").alias("id"),
            F.lit(None).cast("long").alias("deg"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
    )
    base = ranks.select("id", F.col("deg").cast("long"), F.lit(0.0).alias("c"))
    return (
        base.unionByName(contribs)
        .groupBy("id")
        .agg(F.max("deg").alias("deg"), F.sum("c").alias("inflow"))
        .crossJoin(dangling)  # 1-row broadcast scalar, not a real cross
        .select(
            "id",
            "deg",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * (F.col("inflow") + F.col("dmass") / n)
            ).alias("rank"),
        )
    )
