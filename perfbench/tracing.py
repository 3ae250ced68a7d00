"""Outside-in tracing for the traced run (``--trace 1``).

Nothing here edits the program. The tracer

- wraps public functions at the module attributes their callers read
  (the medallion layer sinks, and ``checkpoint_partitioned`` in every
  module that imported it) and records a span around each call;
- sets one Spark job group per query execution and reads job, stage and
  task counts for that group from ``statusTracker()``;
- parses the Spark event log, which the traced session writes, for task
  metrics, stage intervals and the final executed plan of each SQL
  execution, attributed to queries by job group.

Spans are kept in memory and written to one file when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time


#: Executed-plan nodes that are plumbing rather than operators: adaptive
#: wrappers, stage and exchange boundaries, scans, writes and codegen
#: markers. Any other node outside a WholeStageCodegen subtree is counted
#: as a codegen fallback.
_STRUCTURAL = (
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage", "BroadcastQueryStage",
    "TableCacheQueryStage", "AQEShuffleRead", "Exchange", "BroadcastExchange",
    "ReusedExchange", "ReusedSubquery", "Subquery", "SubqueryBroadcast", "InputAdapter",
    "WholeStageCodegen", "Union", "Scan", "LocalTableScan", "ColumnarToRow", "RowToColumnar",
    "OverwriteByExpression", "AppendData", "WriteFiles", "Execute", "CommandResult",
)
_PYTHON_EVAL = ("EvalPython", "InPandas", "InArrow", "PythonUDTF")


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Tracer:
    def __init__(self, spark, span_file: str):
        self.sc = spark.sparkContext
        self.span_file = span_file
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.layer_paths: dict[str, list[str]] = {"bronze": [], "silver": []}
        self.status: dict[str, dict[str, int]] = {}

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, module, attr: str, span_name: str, on_call=None) -> None:
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            if on_call:
                on_call(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def install(self) -> None:
        """Wrap the layer boundaries at their call-site module attributes."""
        if self.installed:
            return
        from projetos_etl_spark import medallion
        from projetos_etl_spark.sources import io

        def record(layer):
            return lambda df, path, *a, **k: self.layer_paths[layer].append(path)

        self._wrap(medallion, "sink_parquet", "medallion.bronze_write", record("bronze"))
        self._wrap(medallion, "sink_partitioned", "medallion.silver_write", record("silver"))
        orig = io.checkpoint_partitioned
        for name, mod in list(sys.modules.items()):
            if name.startswith("projetos_etl_spark") and getattr(mod, "checkpoint_partitioned", None) is orig:
                self._wrap(mod, "checkpoint_partitioned", "sources.checkpoint")

    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- job groups and status tracker ---------------------------------
    def begin_query(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end_query(self, group: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
        tasks = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)))
        self.status[group] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def layer_sizes(self) -> dict[str, int]:
        """Bytes and files of the medallion layers written since the last
        call; forgets the recorded paths."""
        bronze = [_du(p) for p in self.layer_paths["bronze"]]
        silver = [_du(p) for p in self.layer_paths["silver"]]
        self.layer_paths = {"bronze": [], "silver": []}
        return {
            "bronze_bytes": sum(b for b, _ in bronze),
            "silver_bytes": sum(b for b, _ in silver),
            "silver_files": sum(f for _, f in silver),
        }

    def write_spans(self, meta: dict) -> None:
        os.makedirs(os.path.dirname(self.span_file), exist_ok=True)
        with open(self.span_file, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# -- event log ---------------------------------------------------------
def _plan_counts(node: dict, counts: dict[str, int], in_codegen: bool = False) -> None:
    name = node["nodeName"]
    if name == "Exchange":
        counts["exchanges"] += 1
    elif name == "Sort":
        counts["sorts"] += 1
    elif name == "ReusedExchange":
        counts["reused_exchanges"] += 1
    if any(p in name for p in _PYTHON_EVAL):
        counts["arrow_eval_python"] += 1
    if name.startswith("WholeStageCodegen"):
        in_codegen = True
    elif name == "InputAdapter":
        in_codegen = False
    elif not in_codegen and not name.startswith(_STRUCTURAL):
        counts["codegen_fallback"] += 1
    for child in node["children"]:
        _plan_counts(child, counts, in_codegen)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task metric sums, stage intervals and final-plan
    operator counts, from the single event log under ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    plans: dict[int, tuple[str, dict]] = {}

    def group(g: str) -> dict:
        return groups.setdefault(g, {
            "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "intervals": [],
            "plan": {"exchanges": 0, "sorts": 0, "reused_exchanges": 0,
                     "codegen_fallback": 0, "arrow_eval_python": 0},
        })

    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for s in e["Stage IDs"]:
                        stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if g is None or not m:
                    continue
                acc = group(g)
                acc["cpu_ns"] += m["Executor CPU Time"]
                acc["run_ms"] += m["Executor Run Time"]
                acc["gc_ms"] += m["JVM GC Time"]
                acc["spill"] += m["Disk Bytes Spilled"]
                acc["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                r = m["Shuffle Read Metrics"]
                acc["shuffle_read"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                if g is not None and "Submission Time" in info and "Completion Time" in info:
                    group(g)["intervals"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
            elif kind.endswith("SQLExecutionStart"):
                if e.get("jobGroupId"):
                    plans[e["executionId"]] = (e["jobGroupId"], e["sparkPlanInfo"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                if e["executionId"] in plans:
                    plans[e["executionId"]] = (plans[e["executionId"]][0], e["sparkPlanInfo"])
    for g, plan in plans.values():
        _plan_counts(plan, group(g)["plan"])
    return groups


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
