"""Smoke test of the benchmark at tiny sizes (about two minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Runs ``perfbench/run.py`` in a fresh process per run, with every input
at a tenth of its size, one set-up and a one-second loop, and checks
that every metric of ``BENCHMARK.json`` is printed with its unit. A run whose expected
output is deliberately wrong must count its ops as failed, which shows
the output checks are live.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
ARGS = ["--seed", "3", "--seconds", "1"]
# run before the benchmark in each process: tiny inputs, one set-up
TINY = (
    "import perfbench.workloads\n"
    "perfbench.workloads.Workload.scale = 0.1\n"
    "perfbench.workloads.Workload.setups = 1\n"
)


def _run(argv: list[str], prelude: str = "") -> tuple[dict, dict]:
    """(report, result) of one benchmark run in a fresh process."""
    code = (
        "import sys\n" + TINY + prelude +
        "from perfbench.run import main\n"
        f"sys.exit(main({argv!r}))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    _report, result = _run(["--workload", workload, "--trace", "0", *ARGS])
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for name in ("setup_s", "op_latency_s.p50", "peak_rss_mb"):
        assert result["metrics"][name]["value"] > 0


def test_per_layer_metrics():
    report, result = _run(["--workload", "extract_job", "--trace", "1", *ARGS])
    _assert_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"]
    assert m["text.mismatches"] == 0
    assert m["triple_precision"] == m["triple_recall"] == 1.0
    assert m["ner.stage_s"] > 0 and m["ner.bytes_to_python"] > 0
    assert m["kernels.pairs"] > 0 and m["sources.scan_tasks"] >= 1
    assert report["traced_samples"]


def test_wrong_expected_output_counts_as_failed():
    # one CAUSES triple too many expected for every url
    prelude = (
        "import perfbench.workloads as w\n"
        "_exp = w.expected_causes\n"
        "w.expected_causes = lambda ann: _exp(ann) + 1\n"
    )
    report, result = _run(
        ["--workload", "extract_job", "--trace", "0", *ARGS], prelude
    )
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert report["summary"]["failed_share"] == 1.0
    assert report["samples"][0]["error"]["class"] == "WorkloadError"
