"""Self-test of the benchmark: a short run of every workload.

Each workload runs once untraced and once traced, and the reference
workload runs once more against a deliberately wrong expected digest:
five runs of 40-60 s.  Run from the
repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, PERFBENCH)

from digest import EXPECTED_PATH  # noqa: E402
from layers import LAYER_METRICS, ZERO_BY_DESIGN  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 3
CARRIED = [(n, u) for n, u in LAYER_METRICS if n not in ZERO_BY_DESIGN]


def run_bench(workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def read_record(workload: str, trace: int) -> dict:
    path = os.path.join(PERFBENCH, ".work", "records",
                        f"{workload}-seed{SEED}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def assert_printed(lines: list[str], spec) -> None:
    for name, unit in spec:
        pat = re.compile(rf"^{re.escape(name)} = \S+ {re.escape(unit)}$")
        assert any(pat.match(ln) for ln in lines), f"{name} [{unit}] not printed"


def test_benchmark_json_names_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == CARRIED


@pytest.fixture(scope="module", params=list(WORKLOADS))
def workload(request):
    return request.param


def test_untraced_run_prints_every_end_to_end_metric(workload):
    lines, last = run_bench(workload, 0)
    assert_printed(lines, END_TO_END)
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1
    assert list(last["metrics"]) == [name for name, _ in END_TO_END]
    for name, unit in END_TO_END:
        assert last["metrics"][name]["unit"] == unit
        assert last["metrics"][name]["value"] > 0, name


def test_traced_run_splits_each_query_into_its_layers(workload):
    lines, last = run_bench(workload, 1)
    assert_printed(lines, LAYER_METRICS)
    assert last["correct"] is True
    assert list(last["metrics"]) == [name for name, _ in CARRIED]

    rec = read_record(workload, 1)
    passes = rec["passes"]
    overhead = rec["layers"]["trace.overhead_s"]
    untraced = [p for label, p in passes.items() if label.startswith("u")]
    # the run's own pass-to-pass noise: the RMS relative deviation of each
    # query's untraced timed samples from that query's steady latency
    devs = [p["queries"][q] / rec["steady"][q] - 1
            for p in untraced for q in p["queries"]]
    noise = math.sqrt(sum(d * d for d in devs) / len(devs))
    for q, splits in rec["per_query_traced"].items():
        # the three spans cover the query's traced wall
        for label, split in splits.items():
            wall = passes[label]["queries"][q]
            assert sum(split) <= wall + 1e-6
            assert sum(split) >= 0.95 * wall - 0.02, (q, label)
        # and the traced split lands within the tracing overhead of the
        # untraced wall, give or take four times the measured noise
        traced = statistics.median(sum(s) for s in splits.values())
        steady = rec["steady"][q]
        slack = max(overhead, 0.0) + 4 * noise * steady
        assert abs(traced - steady) <= slack, (q, traced, steady, slack)


def test_wrong_expected_digest_counts_as_a_failure():
    with open(EXPECTED_PATH) as fh:
        expected = json.load(fh)
    victim = WORKLOADS["reference"][0]
    expected["queries"][victim]["hash"] = "0" * 64
    path = os.path.join(PERFBENCH, ".work", "wrong_digests.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(expected, fh)
    try:
        lines, last = run_bench("reference", 0, "--expected", path)
    finally:
        os.remove(path)
    assert last["correct"] is False
    assert last["failed"] >= 1
    frac = float(re.search(r"fail_frac = (\S+)", "\n".join(lines)).group(1))
    assert frac > 0
