"""Benchmark runner (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is forced to full execution with the ``noop`` sink (real
distributed write path, no driver collect bottleneck, nothing kept).

Stability (VERDICT r1 item 6): each query is timed THREE times and the
median reported — single runs on this box vary up to 3x under system
contention, which makes regressions unreadable. The raw per-run timings
(``queries_runs``) are spooled to ``BENCH_LOCAL.json`` next to this
script; the stdout line carries medians AND per-query MINS (r8 VERDICT
item 4: the min is the contention-free floor, so a contended run of
this script self-adjudicates instead of producing phantom regressions)
plus errors + regression names, shrink-cascaded so it fits the
recording harness's 2000-char tail buffer (VERDICT r4 item 2).  The
``regressions`` list is computed on the MIN basis (current min vs the
previous round's min where recorded, else its median) — r7 and r8 both
shipped driver artifacts whose median-basis "regressions" were pure
host contention (load-avg 2.5-5.1 during the run), gone in the quiet
re-run.

Streaming entries get extra warm-up passes: the state-store/micro-batch
code path JIT-decays over ~4 executions (measured 12.9s -> 2.4s for the
SAME single-micro-batch query within one session, quiet box — SCALE.md
r9), so a single warm-up left the timed runs on the decay curve and
made ``stream_tumbling_count`` hypersensitive to contention (r8 VERDICT
item 5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from projetos_etl_spark.registry import all_queries
from projetos_etl_spark.session import get_spark

#: Headline queries: one per major operator family, heaviest variants.
BENCH_QUERIES = [
    # Why each entry is here and when it joined: SCALE.md's per-round sections.
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "gold_sales_mart",
    "join_broadcast",
    "join_asof_events",
    "join_left",
    "agg_rollup",
    "win_running_sum",
    "fn_json_extract",
    "q17_small_quantity_revenue",
    "ts_resample_ffill",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_connected_components",
    "text_rolling_hash",
    "text_contamination_ngram",
    "text_unigram_logprob",
    "sim_search_topk",
    "sim_search_pq_adc",
    "bitmap_distinct_rollup",
    "er_blocking_join",
    "graph_pagerank",
    "sim_search_ivf_pq",
    "text_perplexity_bigram",
    "dedup_minhash_verified",
    "feat_quantile_bucketize",
    "anomaly_zscore_rolling",
    "maintenance_zorder_stats",
    "join_interval_overlap",
    "join_bloom_prune",
    "agg_weighted_median",
    "graph_triangle_count",
    "emb_pca_top_component",
    "text_bigram_pmi",
    "sample_poisson_bootstrap",
    "graph_bipartite_projection",
    "ml_logreg_gd",
    "ml_kmeans_lloyd",
    "ml_decision_stump",
    "privacy_t_closeness_audit",
    "quality_js_divergence",
    "graph_label_propagation",
    "ts_ewma_anomaly",
    "corpus_kneser_ney_bigram",
    "stream_upsert_tablelog",
    "graph_kcore_decomposition",
    "eval_heldout_perplexity",
    "ts_stl_decompose",
    "join_asof_nearest",
    "win_ntile_scale",
    "win_max_concurrency_scale",
    "cdc_apply_changes",
    "medallion_gold_profit_mart",
    "stream_tumbling_count",
]


#: Optional parallel-scaling spot-check (VERDICT r13 item 8): at sf0.1
#: every headline query is fixed-cost bound, so the 8-vs-32-core block
#: cannot evidence the parallel design. When $SPARK_GRAFT_SCALE_DIR
#: names a LARGER corpus (e.g. tools/gen_fixtures.py --scale 1000 ~ sf1)
#: the bench ADDITIONALLY times these data-bound representatives there —
#: scan/aggregate/shuffle-bound first, one iterative fixpoint — so a
#: core-count pair of runs shows ratios approaching the core ratio. The
#: env is unset in the driver contract, so the driver's runs and stdout
#: line are byte-identical; results land in BENCH_LOCAL.json (full) and
#: a compact "scale_probe" block (budget cascade applies).
#: Scan/join/aggregate-bound representatives: these are the paths whose
#: wall-clock is data volume, so core-ratio speedups are observable once
#: the corpus outgrows the per-stage fixed cost (~GB scale). The
#: iterative fixpoints and the 3-group weighted median are deliberately
#: NOT probed: the former cost minutes x 10 rounds at probe scale, the
#: latter is the documented skew-bound shape — their scale posture is
#: evidenced by plan shape (pre-partitioned single-shuffle rounds), not
#: by this block.
SCALE_PROBE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "feat_quantile_bucketize",
    "dedup_exact",
    "text_rolling_hash",
]
SCALE_PROBE_RUNS = 2


def _run_scale_probe(spark, registry: dict) -> dict | None:
    """Time SCALE_PROBE_QUERIES at $SPARK_GRAFT_SCALE_DIR with the bench
    methodology (noop sink, min of SCALE_PROBE_RUNS)."""
    probe_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR")
    if not probe_dir or not os.path.isdir(probe_dir):
        return None
    queries: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in SCALE_PROBE_QUERIES:
        if name not in registry:
            continue
        ts: list[float] = []
        for _ in range(SCALE_PROBE_RUNS):
            spark.sparkContext.setJobDescription(f"scale-probe: {name}")
            t0 = time.perf_counter()
            try:
                registry[name](spark, probe_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001 — probe must not kill the bench
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                break
            ts.append(round(time.perf_counter() - t0, 3))
        if ts:
            queries[name] = min(ts)
            runs[name] = ts
    return {"dir": probe_dir, "queries_min": queries, "runs": runs, "errors": errors}


def _loadavg() -> list[float] | None:
    """1/5/15-minute load averages, None where the OS lacks them.
    Recorded at bench start AND end (VERDICT r7 item 6): bench is
    contention-sensitive (a concurrent sweep once inflated every query a
    uniform ~1.4x), so the artifact itself must carry enough to
    adjudicate contention after the fact — load near the core count
    during the run means the numbers measure the HOST, not the engine."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):
        return None


def _bench_cpus() -> int:
    """Cores the bench session runs on: ``$SPARK_GRAFT_CPUS`` (what
    ``get_spark`` builds ``local[N]`` from), else the affinity count
    ``local[*]`` resolves to."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    load_start = _loadavg()
    spark = get_spark(app_name="projetos-etl-spark-bench")

    registry = all_queries()
    names = [n for n in BENCH_QUERIES if n in registry]

    # Warm-up: run every bench query once at the smallest scale factor.
    # This compiles the same whole-stage-codegen shapes and JIT-warms the
    # JVM on ~1% of the data, so the timed pass measures engine
    # throughput rather than one-time codegen/JIT cost (~2.5x inflation
    # otherwise). Falls back to the target sf if sf0.001 is absent.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # Crash isolation (VERDICT r3 item #2): in r3 ONE analysis error in
    # warm-up destroyed the entire round's bench artifact, losing numbers
    # for 26 healthy queries. A failing query is recorded as an error row
    # and excluded from warm-up/timing/totals; the rest still report.
    errors: dict[str, str] = {}
    # Streaming queries JIT-warm over ~4 executions (state-store +
    # micro-batch scheduler paths compile lazily; see module docstring),
    # so they get extra warm-up passes at the small sf — otherwise the
    # timed runs sit on the decay curve and measure JIT, not the engine.
    STREAM_WARMUPS = 4
    for name in names:
        try:
            n_warm = STREAM_WARMUPS if name.startswith("stream_") else 1
            for _ in range(n_warm):
                registry[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — any one query must not kill the run
            errors[name] = f"{type(e).__name__}: {e}"[:500]
    names = [n for n in names if n not in errors]

    N_RUNS = 3
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(N_RUNS):
        for name in names:
            t0 = time.perf_counter()
            try:
                registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                continue
            runs[name].append(round(time.perf_counter() - t0, 3))

    timings = {n: sorted(ts)[len(ts) // 2] for n, ts in runs.items() if ts}
    # The median is the headline (robust to one bad run), but this box's
    # run-to-run variance across SESSIONS can exceed 2x under host
    # contention — the min is the contention-free floor and the steadier
    # cross-round statistic. From r9 the mins ship in the driver-visible
    # stdout line too (and drive the `regressions` list); `value` stays
    # the median sum so the series remains comparable with earlier
    # rounds.
    timings_min = {n: min(ts) for n, ts in runs.items() if ts}
    delta = _delta_vs_previous(timings, timings_min)
    # Capture the headline run's end load BEFORE the optional scale
    # probe: minutes of probe work would otherwise sit between the
    # timed runs and the reading, making the contention-adjudication
    # fields describe the probe, not the bench (r14 review finding).
    load_end = _loadavg()
    scale_probe = _run_scale_probe(spark, registry)
    # Full per-run detail goes to a LOCAL file, committed as round
    # evidence; the stdout line stays COMPACT. The recording harness
    # captures only the last 2000 chars of stdout (BENCH_r04.json came
    # back `parsed: null` because the single detail-laden line overflowed
    # that buffer), so the final printed line must stay well under it.
    detail = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "queries_runs": runs,
        "errors": errors,
        "delta": delta,
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "ncpus": os.cpu_count(),
        "cpus": _bench_cpus(),
        "sf": sf,
    }
    if scale_probe is not None:
        detail["scale_probe"] = scale_probe
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:
        print(f"warn: could not write BENCH_LOCAL.json: {e}", file=sys.stderr)
    compact = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "value_min": round(sum(timings_min.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "errors": errors,
        "delta_vs": (delta or {}).get("vs"),
        "regressions": (delta or {}).get("regressions"),
        "regressions_basis": (delta or {}).get("regressions_basis"),
        "load_avg": {"start": load_start, "end": detail["load_avg_end"]},
        "cpus": detail["cpus"],
        "sf": sf,
    }
    if scale_probe is not None:
        # Unset in the driver contract, so this key never appears in
        # driver-recorded lines; locally the budget cascade still rules.
        compact["scale_probe"] = {
            "dir": scale_probe["dir"],
            "queries_min": scale_probe["queries_min"],
        }
    print(_compact_line(compact, timings, timings_min))


#: Recording-harness tail-buffer budget for the stdout line; the
#: cascade below guarantees the printed JSON never exceeds it.
LINE_BUDGET = 1800


def _compact_line(
    compact: dict, timings: dict[str, float], timings_min: dict[str, float]
) -> str:
    """Serialize the driver-visible stdout line, shrinking in stages so
    it NEVER overflows the recording harness's tail buffer (the r4
    `parsed: null` artifact failure). Factored out of main() so the
    cascade — especially the final fallback — is unit-testable
    (tests/test_bench_artifact.py)."""
    line = json.dumps(compact)
    if len(line) > LINE_BUDGET:  # stage 1: 2dp per-query seconds
        compact["queries"] = {n: round(t, 2) for n, t in timings.items()}
        compact["queries_min"] = {n: round(t, 2) for n, t in timings_min.items()}
        line = json.dumps(compact)
    if len(line) > LINE_BUDGET:
        # Stage 2: drop the fastest queries from BOTH dicts (kept names
        # stay aligned so every reported query carries median AND min)
        # until the line fits; full detail is always in BENCH_LOCAL.json.
        order = sorted(timings, key=lambda n: -timings[n])
        keep = len(order)
        while len(line) > LINE_BUDGET and keep > 10:
            keep -= 1
            kept = order[:keep]
            compact["queries"] = {n: round(timings[n], 2) for n in kept}
            compact["queries_min"] = {
                n: round(timings_min[n], 2) for n in kept if n in timings_min
            }
            compact["queries_truncated_to_slowest"] = keep
            line = json.dumps(compact)
    if len(line) > LINE_BUDGET:
        # Final fallback: a line dominated by long regressions/errors
        # lists can still overflow after the query-dropping loop bottoms
        # out at keep=10 (r9 ADVICE). Collapse the unbounded list fields
        # to counts — the full detail is always in BENCH_LOCAL.json —
        # and, if a pathological sf/path string STILL overflows, drop
        # the per-query dicts entirely: a parseable headline beats a
        # truncated rich one.
        for field in ("regressions", "errors"):
            v = compact.get(field)
            if isinstance(v, (list, dict)) and v:
                compact[field] = f"<{len(v)} entries: see BENCH_LOCAL.json>"
        line = json.dumps(compact)
        if len(line) > LINE_BUDGET:
            compact.pop("queries", None)
            compact.pop("queries_min", None)
            compact.pop("scale_probe", None)  # local-only block, full copy in BENCH_LOCAL.json
            compact["queries_truncated_to_slowest"] = 0
            line = json.dumps(compact)
    return line


def _regression_flag(ratio: float, base_s: float, cur_s: float) -> bool:
    """Noise-floored min-basis regression flag (VERDICT r10 item 4):
    sub-2s entries and sub-0.5s deltas sit inside the host-drift
    envelope (the r10 five-session table moved identical-code min-sums
    101.4->118.0s; the only single-session flags ever raised on this
    basis were 1-2s streaming entries drifting ~0.3s). Such entries
    only flag when the min-basis ratio exceeds 2x — a real regression
    of a fast entry still shows; a ~0.3s host-noise echo no longer
    does."""
    if ratio <= 1.3:
        return False
    if ratio > 2.0:
        return True
    return base_s >= 2.0 and (cur_s - base_s) >= 0.5


def _delta_vs_previous(
    timings: dict[str, float], timings_min: dict[str, float]
) -> dict | None:
    """Per-query ratio vs the most recent recorded BENCH_r{N}.json taken
    at the SAME sf and the SAME core count, with >1.3x slowdowns called
    out — so a reader sees regressions in the bench artifact itself
    instead of recomputing across rounds. Ratios across sf or core
    counts are meaningless (at sf0.1 a low-core run is fixed-cost bound
    and reads as phantom speedups or regressions), so with no like
    baseline there is no delta and the stdout line reports
    ``"delta_vs": null``; there is no fallback to another core count.

    ``ratio`` stays median-basis for series continuity; ``regressions``
    is computed MIN-basis (current min vs the previous artifact's min
    where it recorded one, else its median) — a contended run inflates
    medians ~uniformly but leaves mins near the floor, so min-basis
    regressions survive the exact contention that manufactured r7/r8's
    phantom ones. A real regression shows up in the min too."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    cpus = _bench_cpus()
    prev_name, prev = None, None
    for path in sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    ):
        try:
            with open(path) as f:
                cand = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # Driver-recorded artifacts wrap this script's JSON line under
        # "parsed" and record the core count beside it; a local run of
        # this script emits the line bare, core count inside. Accept
        # both — r3's delta block silently compared against nothing
        # because it only looked at the top level.
        line = cand["parsed"] if isinstance(cand.get("parsed"), dict) else cand
        cores = line.get("cpus", cand.get("cpus"))
        if line.get("sf") == sf and cores == cpus and line.get("queries"):
            prev_name, prev = os.path.basename(path), line["queries"]
            prev_min = line.get("queries_min") or {}
            break
    if prev is None:
        return None
    ratios = {
        n: round(timings[n] / prev[n], 3)
        for n in timings
        if n in prev and prev[n] > 0
    }
    # Min-basis floor comparison: vs the previous round's min where the
    # artifact recorded one (r9+), else its median (r8 and earlier).
    base = {n: prev_min.get(n, prev.get(n)) for n in timings_min}
    ratios_min = {
        n: round(timings_min[n] / base[n], 3)
        for n in timings_min
        if base.get(n)
    }
    return {
        "vs": prev_name,
        "ratio": ratios,
        "ratio_min": ratios_min,
        "regressions": sorted(
            n
            for n, r in ratios_min.items()
            if _regression_flag(r, base[n], timings_min[n])
        ),
        "regressions_basis": "min_vs_prev_min_or_median_noise_floored",
        "new_queries": sorted(n for n in timings if n not in prev),
    }


if __name__ == "__main__":
    main()
