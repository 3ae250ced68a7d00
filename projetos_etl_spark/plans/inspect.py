"""Physical-plan inspection helpers.

The 100 TB design loop this engine prescribes (BASELINE.json north star)
is: write the query declaratively, then *verify the plan* — filters
pushed to the scan, columns pruned, small sides broadcast, top-k planned
as TakeOrderedAndProject, wide codegen spans — and iterate until the plan
is the one you'd want on a 1000-executor cluster. These helpers turn that
loop into assertions (see ``tests/test_plans.py``).

Every helper reads the physical operator tree :func:`plan_nodes` walks.
All take a DataFrame: before an action that tree is the plan AQE starts
from, after one (e.g. ``df.collect()``) it is AQE's final plan.
:func:`explain_str` renders the same plan for people.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame


class PlanNode:
    """One physical operator. ``name`` is its class name without the
    ``Exec`` suffix (``ShuffleExchange``, ``BroadcastHashJoin``,
    ``RDDScan``, ``WholeStageCodegen``, ...); ``children`` also hold the
    plans of the subqueries its expressions run; ``j`` is the JVM
    ``SparkPlan``, for operator-specific fields."""

    __slots__ = ("name", "children", "j")

    def __init__(self, name: str, children: tuple[PlanNode, ...], j) -> None:
        self.name, self.children, self.j = name, children, j

    def __repr__(self) -> str:
        return f"PlanNode({self.name})"

    def walk(self) -> Iterator[PlanNode]:
        """This node, then every node below it (pre-order)."""
        yield self
        for c in self.children:
            yield from c.walk()

    def exprs(self, field: str) -> list[str]:
        """The rendered items of a ``Seq``-valued field, e.g. a Window's
        ``partitionSpec`` or a join's ``leftKeys``."""
        seq = getattr(self.j, field)()
        return [str(seq.apply(i)) for i in range(seq.size())]

    @property
    def partitioning(self) -> str:
        """Kind of the output partitioning: ``HashPartitioning``,
        ``RangePartitioning``, ``SinglePartition``, ..."""
        return self.j.outputPartitioning().getClass().getSimpleName().rstrip("$")


def _node(jplan) -> PlanNode:
    name = jplan.getClass().getSimpleName()
    # AQE wrappers are transparent: the adaptive plan's current physical
    # plan (initial before an action, final after) and each stage's plan.
    while name == "AdaptiveSparkPlanExec" or name.endswith("QueryStageExec"):
        jplan = jplan.executedPlan() if name == "AdaptiveSparkPlanExec" else jplan.plan()
        name = jplan.getClass().getSimpleName()
    children: list[PlanNode] = []
    # A Reused{Exchange,Subquery} points at a plan walked where it first
    # appears; descending would count that subtree twice.
    if not name.startswith("Reused"):
        for seq in (jplan.children(), jplan.subqueries()):
            children += [_node(seq.apply(i)) for i in range(seq.size())]
    return PlanNode(name.removesuffix("Exec"), tuple(children), jplan)


def plan_nodes(df: DataFrame) -> list[PlanNode]:
    """Every operator of ``df``'s physical plan, root first (pre-order),
    including the operators of scalar and pruning subqueries."""
    return list(_node(df._jdf.queryExecution().executedPlan()).walk())


def op_counts(df: DataFrame) -> Counter[str]:
    """Operator name -> number of nodes of that operator in the plan."""
    return Counter(n.name for n in plan_nodes(df))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string ``df.explain(mode)`` would print."""
    jdf = df._jdf  # classic (non-Connect) PySpark
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def _file_scans(df: DataFrame) -> list[PlanNode]:
    return [n for n in plan_nodes(df) if n.name == "FileSourceScan"]


def pushed_filters(df: DataFrame) -> list[str]:
    """Every filter pushed into the plan's file scans — predicates the
    parquet reader evaluates against row-group stats (data skipped, not
    read). Empty when pushdown was lost."""
    return [f for s in _file_scans(df) for f in s.exprs("pushedDownFilters")]


def partition_filters(df: DataFrame) -> list[str]:
    """Every partition-column predicate on the plan's file scans —
    directories pruned before any file is opened."""
    return [f for s in _file_scans(df) for f in s.exprs("partitionFilters")]


def read_schemas(df: DataFrame) -> list[set[str]]:
    """Per-scan sets of column names actually read (ReadSchema) — the
    column-pruning check: a scan reading all columns for a 2-column
    projection is a plan bug."""
    return [set(s.j.requiredSchema().fieldNames()) for s in _file_scans(df)]


def has_operator(df: DataFrame, op_name: str) -> bool:
    """True if the physical plan contains an operator named exactly
    ``op_name`` (e.g. 'BroadcastHashJoin', 'TakeOrderedAndProject')."""
    return op_name in op_counts(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans. More operators fused into fewer
    spans = less virtual-call overhead; a plan full of codegen breaks
    (UDFs, RDD hops) shows up as many small spans or none.

    AQE fuses codegen spans only as it finalizes each stage, so this
    executes the query (test-scale inputs only) and counts the spans of
    the final plan."""
    df.collect()
    return op_counts(df)["WholeStageCodegen"]
