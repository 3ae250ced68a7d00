"""Distributed connected components (large-star/small-star + label propagation).

The clustering step of near-duplicate removal: blocking passes (exact
prefix, LSH bands, shingle keys, ...) each emit candidate-pair *edges*;
transitive closure over the union of those edges groups documents into
duplicate clusters, from which one canonical representative survives.
The reference repo has no analogue (it has no joins at all — SURVEY.md
§2A); this is part of the derived LLM-data surface (SURVEY.md §2B).

Two algorithms, one contract (``(id, component)`` with component = min
reachable vertex id — a unique fixpoint, independent of partitioning):

- ``algorithm="star"`` (default): alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14). Each round rewires edges toward per-neighborhood minima, so
  component diameter collapses geometrically — O(log^2 n) rounds proven,
  ~log n observed. This is the 100 TB path: chain-shaped or high-diameter
  components (which break round-per-hop algorithms) converge in a dozen
  rounds instead of thousands.
- ``algorithm="label"``: classic min-label propagation — one
  shuffle join + groupBy-min per round, rounds = longest shortest path.
  Right for near-dup clusters (tiny diameter, 2-4 rounds) where each
  star round's extra distinct/orient work isn't paid back.

Scale posture (100 TB): every round is shuffle joins/aggregations on the
edge set, both sides partitioned by the join key. Each round's output is
EAGERLY LOCAL-CHECKPOINTED, not just persisted: persist caches the data
but leaves the logical plan growing — after k rounds analysis walks a
depth-k plan tree, which goes super-linear fast (observed: a 13-round
run spending minutes in the analyzer). Checkpointing truncates lineage
so every round costs the same. On a real cluster with flaky executors,
swap ``localCheckpoint`` for reliable ``checkpoint`` (HDFS/S3-backed) —
one-line change, same semantics. Non-convergence within ``max_rounds``
RAISES — silently returning unconverged labels would corrupt every
downstream dedup decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Column contract: edges(src, dst) — symmetric (both directions present
#: or made so here); vertices(id).
MAX_ROUNDS_DEFAULT = 25

class ConvergenceError(RuntimeError):
    """Raised when a fixpoint loop exhausts max_rounds with changes left."""


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = MAX_ROUNDS_DEFAULT,
    algorithm: str = "star",
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(id, component)`` where component = min vertex id reachable.

    ``vertices`` must have column ``id``; ``edges`` columns ``src``/``dst``.
    Edges are symmetrized and self-loops dropped internally. Exact and
    deterministic; raises :class:`ConvergenceError` if the fixpoint is not
    reached within ``max_rounds`` (unconverged labels are silently wrong —
    never returned). Pass a dict as ``stats`` to receive
    ``{"rounds": <rounds to converge>, "algorithm": <name>}``.
    """
    if algorithm == "star":
        out, rounds = _components_star(vertices, edges, max_rounds)
    elif algorithm == "label":
        out, rounds = _components_label_prop(vertices, edges, max_rounds)
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r} (use 'star' or 'label')")
    if stats is not None:
        stats["rounds"] = rounds
        stats["algorithm"] = algorithm
    return out


def _components_label_prop(
    vertices: DataFrame, edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, int]:
    sym = _symmetrize(edges).localCheckpoint(eager=True)
    labels = vertices.select("id", F.col("id").alias("component")).localCheckpoint(
        eager=True
    )

    for rnd in range(1, max_rounds + 1):
        # neighbor labels: for each edge (src, dst) the label of dst
        neighbor = (
            sym.join(labels, sym.dst == labels.id)
            .select(F.col("src").alias("id"), "component")
        )
        new_labels = (
            labels.select("id", "component")
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels, rnd
    raise ConvergenceError(
        f"label propagation did not converge in {max_rounds} rounds "
        "(component diameter exceeds the round budget — raise max_rounds "
        "or use algorithm='star')"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    m = min(N(u) ∪ {u}). Halves the depth of tall trees each round.
    Neighborhoods are undirected — symmetrize whatever orientation the
    previous round left the edges in."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Orient edges large→small; for each node u attach u and all its
    smaller neighbors to m = min of those neighbors. Flattens the
    shallow trees large-star leaves behind into stars."""
    oriented = (
        sym.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    own = mins.select("src", F.col("m").alias("dst"))
    return rewired.union(own).distinct()


def _components_star(
    vertices: DataFrame, edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star to a star-forest fixpoint, then
    one left join to label every vertex (isolated vertices label as
    themselves). Convergence test: the small-star output (a canonical
    large→small edge set) is unchanged — checked with one count over the
    symmetric difference, riding the round's own materialization. Returns
    the labels and the rounds taken."""
    cur = _small_star(_symmetrize(edges)).localCheckpoint(eager=True)

    for rnd in range(1, max_rounds + 1):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        delta = cur.exceptAll(nxt).union(nxt.exceptAll(cur)).count()
        cur = nxt
        if delta == 0:
            break
    else:
        raise ConvergenceError(
            f"large-star/small-star did not converge in {max_rounds} rounds; "
            "raise max_rounds (expected ~log2(n) rounds)"
        )
    # Fixpoint edges are (child, root) stars; roots/isolated vertices have
    # no outgoing edge and label as themselves.
    roots = cur.groupBy("src").agg(F.min("dst").alias("__root"))
    labels = (
        vertices.select("id")
        .join(roots, vertices.id == roots.src, "left")
        .select("id", F.coalesce("__root", F.col("id")).alias("component"))
    )
    return labels, rnd
