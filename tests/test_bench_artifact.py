"""Invariants of the committed bench spool (BENCH_LOCAL.json).

The spool is round evidence: the judge adjudicates contention and
regressions from its fields, so silent format drift (a refactor
dropping ``queries_min``, medians no longer matching the recorded runs,
an error row committed unnoticed) would quietly strip the artifact of
exactly the information that settles r7/r8-style phantom-regression
disputes. These checks validate whatever spool is committed — they pin
STRUCTURE, not this round's timings.
"""

from __future__ import annotations

import json
import os

import pytest

SPOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_LOCAL.json"
)


@pytest.fixture(scope="module")
def spool():
    with open(SPOOL) as f:
        return json.load(f)


def test_spool_has_the_adjudication_fields(spool):
    # load averages + core count (r8: contention self-adjudication) and
    # per-query mins (r9: the contention-free floor) must always ship.
    for key in (
        "value",
        "queries",
        "queries_min",
        "queries_runs",
        "errors",
        "load_avg_start",
        "load_avg_end",
        "ncpus",
        "sf",
    ):
        assert key in spool, key
    assert spool["ncpus"] and spool["sf"] > 0


def test_medians_and_mins_derive_from_the_recorded_runs(spool):
    runs = spool["queries_runs"]
    assert set(spool["queries"]) == set(runs) == set(spool["queries_min"])
    for name, ts in runs.items():
        assert ts, name
        assert spool["queries_min"][name] == min(ts), name
        assert spool["queries"][name] == sorted(ts)[len(ts) // 2], name
        assert spool["queries_min"][name] <= spool["queries"][name], name
    assert spool["value"] == round(sum(spool["queries"].values()), 3)


def test_committed_closing_spool_is_error_free(spool):
    # An error row in the COMMITTED closing spool means a headline query
    # silently fell out of the benchmark — that needs a deliberate
    # decision, not a quiet commit.
    assert spool["errors"] == {}


def test_delta_block_carries_min_basis_when_present(spool):
    delta = spool.get("delta")
    if delta is None:  # no same-sf predecessor artifact
        return
    assert "ratio_min" in delta and delta.get("regressions_basis"), (
        "the regressions list must be min-basis (r9: contended runs "
        "manufacture phantom median regressions)"
    )


def _cascade_inputs(n_queries=56, regression_chars=0):
    timings = {f"entry_{i:02d}_with_a_long_name": 1.0 + i / 100 for i in range(n_queries)}
    tmins = {n: t - 0.05 for n, t in timings.items()}
    compact = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "value_min": round(sum(tmins.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": tmins,
        "errors": {},
        "delta_vs": "BENCH_LOCAL.json",
        "regressions": (
            {f"reg_{i}": "x" * 40 for i in range(regression_chars // 40)}
            if regression_chars else None
        ),
        "regressions_basis": "min",
        "load_avg": {"start": [0.1, 0.1, 0.1], "end": [0.2, 0.2, 0.2]},
        "sf": 0.1,
    }
    return compact, timings, tmins


def test_compact_line_always_fits_the_tail_buffer():
    # The r9 ADVICE case: the query-dropping loop bottoms out at keep=10
    # but a huge regressions dict keeps the line over budget — the final
    # fallback must collapse it to a count and still emit parseable JSON.
    import json

    from bench import LINE_BUDGET, _compact_line

    for reg_chars in (0, 500, 3000, 20000):
        compact, t, tm = _cascade_inputs(regression_chars=reg_chars)
        line = _compact_line(dict(compact), t, tm)
        assert len(line) <= LINE_BUDGET, reg_chars
        parsed = json.loads(line)
        assert parsed["metric"] == "headline_queries_total"
        assert parsed["value"] == compact["value"]


def test_compact_line_truncation_keeps_medians_and_mins_aligned():
    import json

    from bench import LINE_BUDGET, _compact_line

    compact, t, tm = _cascade_inputs(n_queries=200)
    line = _compact_line(dict(compact), t, tm)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    if "queries" in parsed and parsed.get("queries_truncated_to_slowest"):
        assert set(parsed["queries_min"]) <= set(parsed["queries"])
        slowest = max(t, key=t.__getitem__)
        assert slowest in parsed["queries"]


def test_regression_flag_has_a_noise_floor():
    # VERDICT r10 item 4: the r10 five-session host-drift table showed
    # the min-basis flag firing on sub-2s entries drifting ~0.3s
    # (stream_tumbling_count / ts_resample_ffill) from pure contention.
    # The flag now requires EITHER a >2x ratio, OR (ratio > 1.3x AND a
    # >=2s baseline AND a >=0.5s absolute delta).
    from bench import _regression_flag

    # the r10 phantom class: 1.5s entry drifting to 1.95s (1.3x+)
    assert not _regression_flag(1.95 / 1.5, 1.5, 1.95)
    # sub-0.5s delta on a slow entry: 5.0 -> 5.4s is host noise
    assert not _regression_flag(5.4 / 5.0, 5.0, 5.4)
    # a real regression of a slow entry still flags
    assert _regression_flag(7.0 / 5.0, 5.0, 7.0)
    assert _regression_flag(2.61 / 2.0, 2.0, 2.61)
    # a fast entry that genuinely doubled still flags
    assert _regression_flag(2.2 / 1.0, 1.0, 2.2)
    # and the old threshold's green region stays green
    assert not _regression_flag(1.2, 5.0, 6.0)


def test_delta_compares_only_same_sf_and_core_count(monkeypatch):
    # The committed BENCH_r*.json were taken on 32 cores up to r14, 8
    # for the _c8 scaling artifacts, and 4 from r15 (the newest is r16).
    # A run compared against another core count would flag phantom
    # regressions, so with no like baseline it must get no baseline.
    import bench

    with open(os.path.join(os.path.dirname(SPOOL), "BENCH_r14.json")) as f:
        base = json.load(f)["parsed"]["queries_min"]
    slow = {n: 3 * t for n, t in base.items()}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench._delta_vs_previous(slow, slow) is None

    # The same timings do flag against a like baseline.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    delta = bench._delta_vs_previous(slow, slow)
    assert delta["vs"] == "BENCH_r14.json" and delta["regressions"]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._delta_vs_previous(slow, slow)["vs"] == "BENCH_r14_c8.json"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._delta_vs_previous(slow, slow)["vs"] == "BENCH_r16.json"
