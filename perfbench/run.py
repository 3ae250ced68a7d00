"""Closed-loop benchmark of the registry, one workload per run.

    python3 perfbench/run.py --workload medallion_etl --seed 7 --seconds 5 --trace 0

One client submits one registry query at a time to
``get_spark(cpus=nproc)`` and forces it with the ``noop`` sink, like
``bench.py``. A run generates its seeded corpus, times set-ups of the
session and registry, times a first pass in the fresh JVM, checks every output
against its DuckDB oracle twin, then repeats warm passes for
``--seconds``. The last line of stdout is the JSON result; the line
before it carries the run's metadata. ``--trace 1`` adds the
per-layer figures of ``tracing.py``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_WARM_PASSES = 2
#: Set-ups per untraced run; ``setup_s`` is their median. All but the one
#: the run goes on with are made in a child process of their own.
SETUP_SAMPLES = 2
#: After one untraced warm-up pass, the traced run times warm passes in
#: untraced/traced/traced/untraced blocks, so JIT warm-up over the passes
#: does not bias the overhead.
TRACED_IN_BLOCK = (False, True, True, False)
#: workload -> its corpus's ``gen_fixtures`` scale (10 = sf0.01) and
#: {query name: the corpus tables it scans (for ``rows_per_s``)}
WORKLOADS = {
    # The headline pipeline, and the only workload with layer writes.
    "medallion_etl": {
        "scale": 10,
        "queries": {"medallion_gold_profit_mart": ("lineitem",)},
    },
    # A fixpoint of many tiny jobs over checkpoints (per-stage fixed cost)
    # next to a per-row string kernel (executor CPU): two layers that a
    # medallion write-path change leaves alone.
    "iterative_text": {
        "scale": 10,
        "queries": {
            "graph_label_propagation": ("lineitem", "orders"),
            "dedup_exact": ("documents",),
        },
    },
}

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
_ALL_QUERIES = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
PER_LAYER = {
    "session.start_s": "s", "registry.build_s": "s",
    **{f"query.{q}.{p}": "s" for q in _ALL_QUERIES for p in ("build_s", "action_s")},
    "medallion.bronze_write_s": "s", "medallion.silver_write_s": "s", "medallion.gold_s": "s",
    "medallion.bronze_mb": "MB", "medallion.silver_mb": "MB", "medallion.silver_files": "count",
    "medallion.stored_bytes_ratio": "ratio",
    "sources.checkpoint_calls": "count", "sources.checkpoint_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "plan.exchanges": "count", "plan.sorts": "count", "plan.reused_exchanges": "count",
    "plan.codegen_fallback": "count", "plan.arrow_eval_python": "count",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
}
MB = 1 << 20
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process tree ------------------------------------------------------
def _descendants() -> list[int]:
    """PIDs of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid``. ``statm`` is read from counters the
    kernel keeps; ``smaps_rollup`` (proportional set size) walks the
    page tables of the JVM under its memory-map lock, 18 ms a read: every
    0.2 s, 9% of a core taken from the passes being measured."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the resident memory of the process tree, this Python
    driver, the Spark driver JVM and its Python workers, and keeps the
    peak of each phase of the run."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        #: phase name -> peak bytes while it ran (see ``mark``)
        self.phases: dict[str, int] = {}
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(_rss_bytes(p) for p in [os.getpid(), *_descendants()])
            with self._lock:
                self._window = max(self._window, rss)
            self._stop.wait(self.interval)

    def mark(self, phase: str) -> None:
        """Close ``phase``: keep the peak seen since the previous mark."""
        with self._lock:
            self.phases[phase], self._window = self._window, 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- session -----------------------------------------------------------
def _spark_conf(tmp: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _setup(nproc: int, conf: dict[str, str]):
    """Fresh session and registry: (spark, queries, oracle_sql, session
    seconds, registry seconds)."""
    from projetos_etl_spark import registry
    from projetos_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=nproc, extra_conf=conf)
    t1 = time.perf_counter()
    queries = registry.all_queries()
    t2 = time.perf_counter()
    return spark, queries, registry.all_oracle_sql(), t1 - t0, t2 - t1


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    JVM started has ended."""
    from pyspark import SparkContext

    pids = _descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (alive := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- passes ------------------------------------------------------------
class Runner:
    def __init__(self, spark, queries, sf_dir: str, names: list[str], tracer=None):
        self.spark, self.queries, self.sf_dir = spark, queries, sf_dir
        self.names = names
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.pass_walls: list[tuple[float, float]] = []
        self.query_s: list[dict[str, float]] = []

    def _query(self, name: str, group: str):
        fn = self.queries[name]
        self.attempted += 1
        t = self.tracer if self.tracer and self.tracer.installed else None
        try:
            if t is None:
                df = fn(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                return df
            t.begin_query(group)
            try:
                with t.span("query", query=name, group=group):
                    with t.span("build", query=name, group=group):
                        df = fn(self.spark, self.sf_dir)
                    with t.span("action", query=name, group=group):
                        df.write.format("noop").mode("overwrite").save()
            finally:
                t.end_query(group)
            return df
        except Exception:  # a run reports failures, never aborts
            self.failed += 1
            traceback.print_exc()
            return None

    def one_pass(self, index: int) -> tuple[float, dict]:
        """Run every query once; returns (summed query seconds, frames)."""
        frames, times = {}, {}
        wall0 = time.time()
        for name in self.names:
            t0 = time.perf_counter()
            frames[name] = self._query(name, f"{index}:{name}")
            times[name] = time.perf_counter() - t0
        self.pass_walls.append((wall0, time.time()))
        self.query_s.append(times)
        return sum(times.values()), frames


def _clear_layers() -> None:
    """Delete the medallion layer directories a pass left behind."""
    from projetos_etl_spark.scratch import scratch_root

    root = scratch_root()
    for entry in os.listdir(root):
        if entry.startswith("medallion_"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _git_commit() -> str | None:
    """HEAD of the checkout, if it is a git repository of its own."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


# -- the run -----------------------------------------------------------
@contextlib.contextmanager
def _scratch(trace: bool):
    """A temp dir of this process under ``.perfbench/tmp/`` for Spark's
    local dirs, the JVM's and Python's temp files and, when ``trace``, the
    event log; removed on exit. Yields (Spark conf, event-log dir)."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    event_dir = os.path.join(tmp, "eventlog") if trace else None
    os.makedirs(event_dir or tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        yield _spark_conf(tmp, event_dir), event_dir
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def setup_only() -> dict:
    """One set-up and stop: what a ``--setup-only`` child reports."""
    with _scratch(False) as (conf, _):
        spark, _, _, start_s, build_s = _setup(len(os.sched_getaffinity(0)), conf)
        _stop(spark)
    return {"start_s": start_s, "build_s": build_s}


def _setup_in_child() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only"],
        stdout=subprocess.PIPE, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import corpus

    scale, tables = WORKLOADS[workload]["scale"], WORKLOADS[workload]["queries"]
    names = list(tables)
    nproc = len(os.sched_getaffinity(0))
    meta = {
        "workload": workload, "seed": seed, "scale": scale, "seconds": seconds,
        "trace": trace, "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_start": os.getloadavg(), "git_commit": _git_commit(),
    }
    cpu0 = _cpu_times()
    t_gen = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        sf_dir, stats = corpus.build(os.path.join(WORK, "inputs"), seed, scale, nproc)
    meta["corpus_s"] = time.perf_counter() - t_gen
    rows_per_pass = sum(stats[t]["rows"] for scanned in tables.values() for t in scanned)

    # The traced run reports one set-up; its per-layer figures have no bound.
    meta["setup_samples"] = [] if trace else [
        _setup_in_child() for _ in range(SETUP_SAMPLES - 1)]
    with _scratch(trace) as (conf, event_dir), PeakRss() as rss:
        result = _measure(meta, rss, names, sf_dir, stats, nproc, conf, seconds, trace, event_dir)
    meta["rss_mb"] = {k: v / MB for k, v in rss.phases.items()}
    meta["load_end"] = os.getloadavg()
    meta["cpu_steal_share"] = _steal_share(cpu0, _cpu_times())
    metrics = result.pop("metrics")
    if not trace:
        metrics["rows_per_s"] = rows_per_pass / metrics["pass_s"]
        # The first pass, what a batch job holds. Over the warm passes the
        # JVM's heap keeps growing in steps the collector times: on ten
        # like runs their peak read 1.8-3.1 GB, the first pass's
        # 1.37-1.43 GB.
        metrics["peak_rss_mb"] = rss.phases["pass0"] / MB
    units = END_TO_END if not trace else PER_LAYER
    return {"meta": meta, **result,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def _traced(index: int) -> bool | None:
    """Whether warm pass ``index`` (from 1) of the traced run is traced;
    None for the warm-up pass, which is neither."""
    if index == 1:
        return None
    return TRACED_IN_BLOCK[(index - 2) % len(TRACED_IN_BLOCK)]


def _measure(meta, rss, names, sf_dir, stats, nproc, conf, seconds, trace, event_dir) -> dict:
    import tracing
    from oracle import Oracle

    spark, queries, oracle_sql, start_s, build_s = _setup(nproc, conf)
    rss.mark("setup")
    meta["spark_version"] = spark.version
    tracer = None
    if trace:
        tracer = tracing.Tracer(spark, os.path.join(
            WORK, "spans", f"{meta['workload']}-seed{meta['seed']}-{os.getpid()}.json"))
        tracer.install()
    runner = Runner(spark, queries, sf_dir, names, tracer)

    first_s, frames = runner.one_pass(0)
    rss.mark("pass0")
    t_oracle = time.perf_counter()
    oracle = Oracle(sf_dir, oracle_sql)
    try:
        for name, df in frames.items():
            if df is None:
                continue
            runner.attempted += 1
            try:
                why = oracle.mismatch(name, df)
            except Exception as ex:  # a run reports failures, never aborts
                why = f"{type(ex).__name__}: {ex}"
            if why:
                runner.failed += 1
                print(f"oracle mismatch {name}: {why}", file=sys.stderr)
    finally:
        oracle.close()
    del frames
    meta["oracle_s"] = time.perf_counter() - t_oracle
    rss.mark("oracle")
    _clear_layers()
    if tracer:
        tracer.layer_sizes()

    warm, sizes = [], []
    t_loop = time.perf_counter()
    min_passes = 1 + len(TRACED_IN_BLOCK) if tracer else MIN_WARM_PASSES
    while len(warm) < min_passes or time.perf_counter() - t_loop < seconds:
        index = len(warm) + 1
        if tracer and _traced(index):
            tracer.install()
        elif tracer:
            tracer.uninstall()
        total, _ = runner.one_pass(index)
        rss.mark(f"pass{index}")
        warm.append(total)
        if tracer and tracer.installed:
            sizes.append(tracer.layer_sizes())
        _clear_layers()
    if tracer:
        tracer.uninstall()
    t_stop = time.perf_counter()
    _stop(spark)
    meta["stop_s"] = time.perf_counter() - t_stop
    rss.mark("stop")

    if trace:
        metrics = _layer_metrics(
            tracer, runner, warm, sizes, stats, event_dir, start_s, build_s, names)
        tracer.write_spans(meta)
    else:
        setups = [start_s + build_s] + [
            d["start_s"] + d["build_s"] for d in meta["setup_samples"]]
        metrics = {
            "setup_s": statistics.median(setups),
            "first_pass_s": first_s,
            "pass_s": statistics.median(warm),
        }
    meta["query_s"] = runner.query_s
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


def _layer_metrics(tracer, runner, warm, sizes, stats, event_dir, start_s, build_s, names):
    import tracing

    groups = tracing.parse_event_log(event_dir)
    traced = [i for i in range(1, len(warm) + 1) if _traced(i)]
    per_pass = []
    for i, size in zip(traced, sizes):
        wall0, wall1 = runner.pass_walls[i]
        spans = [s for s in tracer.spans if s["start"] >= wall0 and s["end"] <= wall1]
        row = {k: 0.0 for k in PER_LAYER}

        def total(span_name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == span_name)

        for s in spans:
            if s["name"] in ("build", "action"):
                row[f"query.{s['query']}.{s['name']}_s"] += s["end"] - s["start"]
        row["medallion.bronze_write_s"] = total("medallion.bronze_write")
        row["medallion.silver_write_s"] = total("medallion.silver_write")
        if "medallion_gold_profit_mart" in names:
            row["medallion.gold_s"] = row["query.medallion_gold_profit_mart.action_s"]
        row["medallion.bronze_mb"] = size["bronze_bytes"] / MB
        row["medallion.silver_mb"] = size["silver_bytes"] / MB
        row["medallion.silver_files"] = size["silver_files"]
        row["medallion.stored_bytes_ratio"] = (
            size["bronze_bytes"] + size["silver_bytes"]) / stats["lineitem"]["bytes"]
        row["sources.checkpoint_calls"] = sum(s["name"] == "sources.checkpoint" for s in spans)
        row["sources.checkpoint_s"] = total("sources.checkpoint")
        intervals = []
        for name in names:
            g = f"{i}:{name}"
            for k, v in tracer.status.get(g, {}).items():
                row[f"spark.{k}"] += v
            ev = groups.get(g)
            if ev is None:
                continue
            intervals += ev["intervals"]
            row["spark.shuffle_write_mb"] += ev["shuffle_write"] / MB
            row["spark.shuffle_read_mb"] += ev["shuffle_read"] / MB
            row["spark.spill_mb"] += ev["spill"] / MB
            row["spark.executor_cpu_s"] += ev["cpu_ns"] / 1e9
            row["spark.executor_run_s"] += ev["run_ms"] / 1e3
            row["spark.gc_s"] += ev["gc_ms"] / 1e3
            for k, v in ev["plan"].items():
                row[f"plan.{k}"] += v
        row["spark.driver_gap_s"] = (wall1 - wall0) - tracing.covered_seconds(intervals)
        per_pass.append(row)
    metrics = {k: statistics.median(r[k] for r in per_pass) for k in PER_LAYER}
    metrics["session.start_s"] = start_s
    metrics["registry.build_s"] = build_s
    metrics["trace.pass_s"] = statistics.median(warm[i - 1] for i in traced)
    metrics["trace.untraced_pass_s"] = statistics.median(
        w for i, w in enumerate(warm, 1) if _traced(i) is False)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["trace.untraced_pass_s"]
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.setup_only and args.workload is None:
        ap.error("--workload is required")

    sys.path.insert(0, ROOT)
    if args.setup_only:
        with contextlib.redirect_stdout(sys.stderr):
            sample = setup_only()
        print(json.dumps(sample))
        return 0
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    meta = result.pop("meta")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
