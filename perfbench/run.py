"""Benchmark entry point: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload validate_resident --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout (``BENCHMARK.json`` beside the
package). Every run gets its own temporary directory under
``.perfbench_tmp/`` for Parquet outputs, lineage records, Spark's local dirs
and the JVM's temp files; the directory is deleted when the run ends.

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
alternates untraced and traced operations: the traced ones give the per-layer
metrics, and the difference of the two medians is the tracing overhead.
The last line of standard output is the JSON result; the lines before it
name every metric with its unit, and describe the host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "pandera_unified_validator_spark"
# pinned driver heap: the package default (24g) is more than this host has
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    """Content hash of the package sources -- the checkout is not always a
    git repository, so this stands in for the commit."""
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not (ROOT / ".git").exists():  # an exported checkout has no history
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    # validate_resident runs on request; BENCHMARK.json lists the gated ones
    ap.add_argument("--workload", required=True,
                    choices=("validate_resident", "resume_groups", "span_dedup_pack"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("std", "tiny"), default="std",
                    help="input size; 'tiny' is for the self-check")
    return ap.parse_args(argv)


def _instrument_plans(tracer) -> None:
    """Span the plan compiler's entry points where the validator calls them."""
    from pandera_unified_validator_spark.operators import validator as vmod

    def wrap(fn):
        def traced(*a, **kw):
            with tracer.span("plans.compile"):
                return fn(*a, **kw)
        return traced

    vmod.compile_schema = wrap(vmod.compile_schema)
    vmod.dtype_errors = wrap(vmod.dtype_errors)


def _layer_metrics(spans, rec: dict, probe) -> dict[str, float]:
    """Per-layer figures of one traced operation, from its spans."""
    def total(group: list, key: str) -> float:
        return sum(s.stages.get(key, 0.0) for s in group)

    def dur(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name)

    val = [s for s in spans if s.name in ("validator.validate", "runner.cold", "runner.resume")]
    tok = [s for s in spans if s.name.startswith("token_ops.")]
    tagged = [s for s in spans if s.job_group]
    return {
        "plans.compile_ms": dur("plans.compile") * 1e3,
        "validator.jobs": total(val, "jobs"),
        "validator.stages": total(val, "stages"),
        "validator.tasks": total(val, "tasks"),
        "validator.executor_run_s": total(val, "executor_run_ms") / 1e3,
        "validator.shuffle_write_bytes": total(val, "shuffle_write_bytes"),
        "validator.unique_tier": float(rec.get("unique_tier", 0)),
        "runner.groups_validated": float(rec.get("groups_validated", 0)),
        "runner.groups_resumed": float(rec.get("groups_resumed", 0)),
        "runner.resume_skip_ratio": float(rec.get("resume_skip_ratio", 0.0)),
        "runner.overhead_s": float(rec.get("overhead_s", 0.0)),
        "sources.input_bytes": total(tagged, "input_bytes"),
        "sources.scan_run_s": total(tagged, "scan_run_ms") / 1e3,
        "sources.output_bytes": total(tagged, "output_bytes"),
        "token_ops.spans_s": dur("token_ops.spans"),
        "token_ops.pack_s": dur("token_ops.pack"),
        "token_ops.shuffle_write_bytes": total(tok, "shuffle_write_bytes"),
        "token_ops.spill_bytes": total(tok, "spill_bytes"),
        "token_ops.exchanges": float(
            probe.exchanges([j for s in tok for j in s.stages.get("job_ids", [])])
        ),
        "token_ops.removed_tokens": float(rec.get("removed_tokens", 0)),
        "cache.mem_bytes": float(rec.get("cache_mem", 0)),
        "cache.disk_bytes": float(rec.get("cache_disk", 0)),
        "cache.entries": float(rec.get("cache_entries", 0)),
        "reporting.render_ms": dur("reporting.render") * 1e3,
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, spec: dict, tmp: str, host: dict) -> tuple[dict, list[str]]:
    """Set up, measure and check one workload; returns (result, report lines)
    and adds the Spark and Java versions to ``host``."""
    import pandera_unified_validator_spark as puv
    from tracing import SparkProbe, Tracer, peak_rss_mb, self_times
    import workloads

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = workloads.WORKLOADS[args.workload]()
    lines: list[str] = []

    t0 = time.perf_counter()
    spark = puv.get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    start_s = time.perf_counter() - t0
    try:
        probe = SparkProbe(spark)
        tracer = Tracer(probe, uuid.uuid4().hex[:8], enabled=False)
        if args.trace:
            _instrument_plans(tracer)
        ctx = workloads.Ctx(spark, probe, tracer, tmp, args.seed, cpus, args.scale)

        setups = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            ctx.op(wl.setup, ctx, k)
            setups.append(time.perf_counter() - t)
        gen_s = statistics.median(setups)

        t = time.perf_counter()
        for _ in range(wl.warmup_iters):
            ctx.op(wl.iterate, ctx)
        warmup_s = time.perf_counter() - t

        iters, layers = [], []
        min_iters = wl.min_iters * (2 if args.trace else 1)
        deadline = time.perf_counter() + args.seconds
        while len(iters) < min_iters or time.perf_counter() < deadline:
            traced = bool(args.trace) and len(iters) % 2 == 1
            tracer.enabled = traced
            first_span = len(tracer.spans)
            gc0 = probe.gc_ms() if traced else 0
            t = time.perf_counter()
            rec = ctx.op(wl.iterate, ctx)
            rec["elapsed"] = time.perf_counter() - t
            rec["traced"] = traced
            iters.append(rec)
            if traced:
                lm = _layer_metrics(tracer.spans[first_span:], rec, probe)
                lm["session.gc_s"] = (probe.gc_ms() - gc0) / 1e3
                layers.append(lm)
        measure_s = time.perf_counter() - deadline + args.seconds
        tracer.enabled = bool(args.trace)
        ctx.op(wl.finish, ctx)
        tracer.enabled = False
        jvm_pid = probe.jvm_pid()
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        rss = peak_rss_mb(jvm_pid)
    finally:
        _stop(spark)

    measured = [r for r in iters if not r["traced"]]
    e2e = wl.end_to_end(measured)
    setup_s = start_s + gen_s
    named = {"setup_s": (setup_s, "s"), **e2e["named"], "peak_rss_mb": (rss, "MB"),
             "failed_ops_ratio": (ctx.failed / max(ctx.attempted, 1), "ratio")}
    for name, v in named.items():
        note = f"  ({v[2]})" if len(v) > 2 else ""
        lines.append(f"metric {args.workload} {name} = {v[0]:.6g} {v[1]}{note}")
    print(f"perfbench: session start {start_s:.1f} s, set-up {sum(setups):.1f} s, "
          f"warm-up {warmup_s:.1f} s, measured {measure_s:.1f} s over {len(iters)} operations "
          f"({', '.join('%.2f' % r['elapsed'] for r in iters)} s)", file=sys.stderr)
    for f in ctx.failures:
        print(f"check failed: {f}", file=sys.stderr)

    if args.trace:
        traced_walls = [r["elapsed"] for r in iters if r["traced"]]
        overhead = statistics.median(traced_walls) - statistics.median(
            r["elapsed"] for r in measured
        )
        per_layer = {
            k: statistics.median(lm[k] for lm in layers) for k in layers[0]
        }
        per_layer.update({
            "session.start_s": start_s,
            "tokens.gen_s": gen_s,
            "trace.overhead_s": overhead,
        })
        st = self_times(tracer.spans)
        agg: dict[str, list[float]] = {}
        for sp, self_s in zip(tracer.spans, st):
            a = agg.setdefault(sp.name, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += sp.dur
            a[2] += self_s
        for name, (n, tot, self_s) in sorted(agg.items()):
            lines.append(f"span {name} n={n} total_s={tot:.4f} self_s={self_s:.4f}")
        lines.append(
            f"trace {args.workload} overhead_s = {overhead:.4f} "
            f"(median traced op {statistics.median(traced_walls):.4f} s, n={len(traced_walls)}; "
            f"untraced n={len(measured)})"
        )
        wanted = spec["per_layer"]
        values = per_layer
    else:
        wanted = spec["end_to_end"]
        values = {"setup_s": setup_s, "peak_rss_mb": rss, **e2e["gate"]}
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        if args.trace:
            lines.append(f"layer {args.workload} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no {PACKAGE} package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())

    nproc = _nproc()
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    base = ROOT / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PUV_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # every JVM of the run (the launcher too) keeps its files in the run dir
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        ))),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, str(ROOT))
    host = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus, "PUV_DRIVER_MEMORY": DRIVER_MEMORY,
        "python": sys.version.split()[0], "commit": _commit(),
        "source_digest": _source_digest(),
    }
    try:
        result, lines = run(args, spec, tmp, host)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            base.rmdir()  # only when no concurrent run still uses it
        except OSError:
            pass
    print("host " + json.dumps(host))
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
