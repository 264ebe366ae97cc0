"""Tests of the harness's own logic: the end-to-end summary, failure
accounting, the result line and metric naming. No Spark needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402
from stats import Job  # noqa: E402


def test_failed_jobs_count_against_attempts_and_keep_their_time():
    # Two whole rotations over kinds a, b, c; one c job fails.
    jobs = [Job("a", 1.0, True), Job("b", 1.0, True), Job("c", 2.0, False),
            Job("a", 1.0, True), Job("b", 1.0, True), Job("c", 2.0, True)]
    s = stats.summarize(jobs)
    assert s["failed_frac"] == pytest.approx(1 / 6)
    # A rotation takes 4 s with the failed job's time in it, and only five
    # sixths of the jobs count as done.
    assert s["jobs_per_min"] == pytest.approx(60.0 * 3 / 4.0 * 5 / 6)


def test_a_partial_rotation_does_not_skew_the_mix():
    # The run ended after the first kind of the second rotation.
    jobs = [Job("a", 1.0, True), Job("b", 3.0, True), Job("a", 1.0, True)]
    # At the mix one rotation is 1 s + 3 s for two jobs: 30 jobs/min, where
    # the plain count would claim 36.
    assert stats.summarize(jobs)["jobs_per_min"] == pytest.approx(30.0)


def test_one_stalled_job_does_not_move_its_kind():
    steady = [Job(k, 1.0, True) for _ in range(3) for k in "ab"]
    stalled = steady[:-1] + [Job("b", 5.0, True)]
    assert stats.summarize(stalled)["jobs_per_min"] == pytest.approx(
        stats.summarize(steady)["jobs_per_min"])


def test_summarize_needs_jobs():
    with pytest.raises(ValueError):
        stats.summarize([])


def test_mix_overhead_compares_per_kind_medians():
    base = [Job("a", 1.0, True), Job("b", 3.0, True), Job("a", 1.0, True)]
    other = [Job("a", 1.2, True), Job("b", 3.6, True), Job("c", 9.0, True)]
    # kinds a and b: 4.0 s at base vs 4.8 s traced; kind c is ignored
    assert stats.mix_overhead(base, other) == pytest.approx(1 - 4.0 / 4.8)
    with pytest.raises(ValueError):
        stats.mix_overhead(base, [Job("c", 1.0, True)])


def test_metric_names():
    stats.check_metric_names(["setup_s", "jobs_per_min", "queries.b05_join_inner.execute_s"])
    for bad in ("_x", "a b", "x" * 65, "ms/op"):
        with pytest.raises(ValueError):
            stats.check_metric_names([bad])
    with pytest.raises(ValueError):
        stats.check_metric_names(["a", "a"])


def test_result_line_shape():
    jobs = [Job("a", 1.0, True), Job("a", 1.0, False)]
    line = stats.result_line(False, jobs, {"x": 1, "y": 2.5}, {"x": "s", "y": "count"})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["attempted"], line["failed"], line["correct"]) == (2, 1, False)
    assert line["metrics"]["x"] == {"value": 1.0, "unit": "s"}
    json.dumps(line)
    with pytest.raises(KeyError):
        stats.result_line(True, jobs, {"x": 1}, {"x": "s", "y": "s"})


def test_benchmark_json_matches_what_the_harness_prints():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.per_layer_units(run.workloads.AnalyticsCorpus.queries)
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads.WORKLOADS)
    stats.check_metric_names(list(e2e) + list(layer))


def test_tracer_self_time_excludes_child_spans():
    import time

    from tracing import Tracer

    t = Tracer()
    t.job = 7
    inner = t.wrap("operators.x:f", lambda: time.sleep(0.02))
    t.call("queries.build:q", lambda: (inner(), inner()))
    self_s, incl_s, calls = t.layer_totals()
    assert calls["operators.x"] == 2 and calls["queries.build"] == 1
    assert incl_s["queries.build"] >= incl_s["operators.x"] >= 0.04
    assert self_s["queries.build"] == pytest.approx(
        incl_s["queries.build"] - incl_s["operators.x"])
    assert {s["job"] for s in t.spans} == {7}
    assert t.spans[1]["parent"] == 0
