"""The N→4N scaling harness (tools/bench_scaling.py): the renderer over the
committed result caches, and one measured local child per job."""

import glob
import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "bench_scaling.py")


@pytest.fixture(scope="module")
def bench_scaling():
    spec = importlib.util.spec_from_file_location("bench_scaling", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bench_state():
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(REPO, "BENCH", "**"), recursive=True)
    }


def test_write_md_renders_every_committed_cache(bench_scaling, tmp_path):
    before = _bench_state()
    text = bench_scaling.write_md(str(tmp_path / "BASELINE.md"))
    assert (tmp_path / "BASELINE.md").read_text() == text
    # validate: headroom 3-core and saturating 4-core shapes, local record
    for eff in ("0.882", "0.888", "0.837", "0.736", "0.818", "0.372"):
        assert f"**{eff}**" in text, eff
    assert "**0.747**" in text  # token_ops, 3-core shape
    assert "0.391" not in text  # the root-disk artifact cache is not rendered
    assert _bench_state() == before


@pytest.mark.parametrize(
    "job,heap",
    [pytest.param("validate", "1g", id="validate"),
     pytest.param("token_ops", None, id="token_ops")],
)
def test_child_prints_one_result_line(bench_scaling, job, heap, tmp_path):
    before = _bench_state()
    env = {
        **os.environ,
        "PUV_SCALE_ROWS": "3000",
        "PUV_SCALE_WARMUPS": "1",
        "PUV_SCALE_RUNS": "1",
        "PUV_SCALE_PATH": str(tmp_path / "input"),
        "PUV_SCALE_LOCAL_DIR": str(tmp_path / "local"),
    }
    # one child runs with a pinned heap, the other with the default
    env.pop("PUV_DRIVER_MEMORY", None)
    if heap:
        env["PUV_DRIVER_MEMORY"] = heap
    out = subprocess.run(
        [sys.executable, TOOL, "--job", job, "--child", "2"],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    # what _pairs and the renderer read from a level
    read = {"cpus", "rows", "tokens", "sec", bench_scaling.JOBS[job]["rate"]}
    assert read <= rec.keys(), rec
    assert rec["cpus"] == 2 and rec["rows"] == 3000 and len(rec["all_sec"]) == 1
    # a local child runs with the tool's driver heap (12g, capped at half
    # the host's memory), not the package's 24g
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    assert rec["driver_heap_mb"] <= (1024 if heap else min(12 * 1024, half_mb))
    pairs = bench_scaling._pairs({2: rec, 8: rec}, bench_scaling.JOBS[job]["rate"])
    assert pairs["2->8"]["scaling_efficiency"] == 0.25
    assert _bench_state() == before
