"""Self-check of the benchmark: every workload once at the tiny size, untraced
and traced, in a fresh process each.

    python3 -m pytest perfbench/test_perfbench.py -q

It asserts that each run prints every metric it owes -- the JSON metrics named
in BENCHMARK.json with their units, and the named end-to-end lines -- and that
every output check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# the end-to-end metrics each workload prints by name, with their units
NAMED = {
    "validate_resident": {
        "setup_s": "s", "sequences_per_s": "rows/s", "validate_p50_s": "s",
        "validate_tail_s": "s", "violations_s": "s", "peak_rss_mb": "MB",
        "failed_ops_ratio": "ratio",
    },
    "resume_groups": {
        "setup_s": "s", "cold_run_s": "s", "resume_run_s": "s", "group_p50_s": "s",
        "peak_rss_mb": "MB", "failed_ops_ratio": "ratio",
    },
    "span_dedup_pack": {
        "setup_s": "s", "tokops_run_s": "s", "tokens_per_s": "tokens/s",
        "peak_rss_mb": "MB", "failed_ops_ratio": "ratio",
    },
}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_every_gated_workload_has_named_metrics():
    assert {w["name"] for w in SPEC["workloads"]} <= set(NAMED)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(NAMED))
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, out.stderr[-3000:]

    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())

    printed = {}
    for line in lines:
        if line.startswith(f"metric {workload} "):
            _, _, name, _, value, unit, *_ = line.split()
            printed[name] = (float(value), unit)
    assert {k: u for k, (_, u) in printed.items()} == NAMED[workload]
    assert printed["failed_ops_ratio"][0] == 0.0
    if trace:
        assert any(line.startswith(f"trace {workload} overhead_s = ") for line in lines)
        assert any(line.startswith("span ") for line in lines)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "validate_resident", 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_tail_keeps_ten_samples_above_it():
    from workloads import tail

    assert tail([1.0, 2.0, 3.0]) == (3.0, "max")
    xs = [float(i) for i in range(1, 41)]  # 40 samples: p75 leaves 10 above
    assert tail(xs) == (30.0, "p75")


def test_self_time_subtracts_children():
    from tracing import Span, self_times

    spans = [Span("a", 0.0, 10.0), Span("b", 1.0, 4.0, parent=0), Span("c", 3.0, 6.0, parent=0)]
    assert self_times(spans) == [5.0, 3.0, 3.0]
