"""Every printed metric name, unit and sample count matches BENCHMARK.json
and the run's own plan; traced and untraced runs print the same end-to-end
names."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import report
import run
import workloads

ROOT = os.path.dirname(run.HERE)
WORKLOAD = "sparkify_etl"
SECONDS = 1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(entries: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert report.END_TO_END == _units(spec["end_to_end"])
    assert report.PER_LAYER == _units(spec["per_layer"])
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def outputs() -> dict[int, tuple[dict, dict]]:
    out = {}
    for trace in (0, 1):
        proc = subprocess.run(
            [sys.executable, "perfsuite/run.py", "--workload", WORKLOAD,
             "--seed", "5", "--seconds", str(SECONDS), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
        lines = proc.stdout.strip().splitlines()
        out[trace] = json.loads(lines[-2]), json.loads(lines[-1])
    return out


def test_result_line_carries_the_listed_metrics(outputs):
    spec = _spec()
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        detail, line = outputs[trace]
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True and line["failed"] == 0
        assert {k: m["unit"] for k, m in line["metrics"].items()} == _units(spec[section])


def test_traced_and_untraced_runs_print_the_same_end_to_end_names(outputs):
    assert set(outputs[0][0]["end_to_end"]) == set(outputs[1][0]["end_to_end"]) \
        == set(report.END_TO_END)


def test_sample_counts_follow_the_run_plan(outputs):
    warm = run.warm_passes(SECONDS)
    queries_per_pass = 2 * len(workloads.STAR_TABLES)  # two rounds of COUNTs
    want = {"setup_s": run.SETUPS, "cold_s": 1, "pass_s": warm,
            "query_p50_s": queries_per_pass * warm, "peak_rss_mb": 1}
    for trace in (0, 1):
        e2e = outputs[trace][0]["end_to_end"]
        assert {k: m["n"] for k, m in e2e.items()} == want
    layers = outputs[1][0]["per_layer"]
    assert layers["engine.jobs"]["n"] == 2  # one traced pass each side of the warm ones
    assert layers["session.start_s"]["n"] == run.SETUPS


def test_shared_cache_is_not_used_by_the_etl(outputs):
    detail = outputs[1][0]
    assert detail["per_layer"]["session.shared_cache.calls"]["value"] == 0
    assert detail["per_layer"]["sources.sinks.files_written"]["value"] > 0
