"""N→4N scaling evidence for the measured jobs (BENCH/BASELINE.md).

Runs one job, identical at every level, over the identical deterministic
synthetic token table (parquet, written once) at several parallelism
levels, each in a fresh JVM, and reports throughput + N→4N scaling
efficiencies. ``--job`` picks the measured body:

* ``validate`` (default): full-check validation of the dirty token table;
* ``token_ops``: ``duplicated_ngram_coverage`` over the clean token table,
  the token axis's shuffle-heavy shape (gram explode → per-gram occurrence
  window → per-doc running-max window + sum → join to the base scan).

Every measured run follows one protocol (hard-won on a shared VM):
* fresh plan per run — re-collecting the same DataFrame object reuses the
  prior run's shuffle map outputs and only re-executes the final stage;
* a fresh ``operator_cache_scope()`` per run, so registry-persisted scratch
  (dup-key sets) is released and every run recomputes it;
* a driver GC after every run — shuffle files outlive a run until the
  ContextCleaner collects their dependencies (8 back-to-back runs once
  filled the tmpfs local dir);
* several untimed warmups — tiered JIT of generated code needs multiple full
  executions, and cold runs are up to 7x slower;
* ParallelGC with GC threads pinned to the core budget (G1 collapses under
  32 allocation-heavy threads; unpinned GC threads let an "8-core" run borrow
  extra cores);
* fixed shuffle partitions + ~24 MB scan splits, so the plan and task count
  are identical at every level;
* block-manager dirs on tmpfs: the standalone WORKER starts with
  ``SPARK_LOCAL_DIRS`` there (executors ignore the app's
  ``spark.local.dir``), so 8 executors do not throttle each other on one
  shared disk — a cluster node has its own.

Usage:
  python tools/bench_scaling.py [--job validate|token_ops] [--standalone]
    without --standalone: the local[N] levels, one JVM each;
    with it: N vs 4N EXECUTOR processes on a local standalone daemon.
  --child <cpus> / --child-standalone <n_exec> <cores>: one measured run
    (internal; the orchestrator spawns one fresh process per level).

Standalone mode is the north-rule-faithful protocol: the same job at N and
4N executor JVMs (identical per-executor cores/memory/GC), scheduled by a
real Spark master — a single-host stand-in for a multi-executor cluster. It
needs $SPARK_STANDALONE_HOME for the master/worker daemons.

Environment (either job; unset = the job's default in ``JOBS``):
  PUV_SCALE_ROWS, PUV_SCALE_RUNS, PUV_SCALE_EXEC_CORES, PUV_SCALE_EXEC_MEMORY;
  PUV_SCALE_WARMUPS (4), PUV_SCALE_LEVELS (local, 2,8,32),
  PUV_SCALE_EXECUTORS (standalone, 2,8), PUV_SCALE_PATH (input parquet),
  PUV_SCALE_LOCAL_DIR (block-manager dirs), PUV_DRIVER_MEMORY (standalone
  driver, 12g). Run validate with PUV_SCALE_ROWS=96000000 for the recorded
  evidence (the larger input keeps fixed per-job cost <5% of wall time).
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "BENCH")
sys.path.insert(0, REPO)

WARMUPS = int(os.environ.get("PUV_SCALE_WARMUPS", "4"))
LEVELS = tuple(
    int(x) for x in os.environ.get("PUV_SCALE_LEVELS", "2,8,32").split(",")
)
EXEC_LEVELS = tuple(
    int(x) for x in os.environ.get("PUV_SCALE_EXECUTORS", "2,8").split(",")
)
LOCAL_DIR = os.environ.get("PUV_SCALE_LOCAL_DIR", "/dev/shm/puv-scale-local")
STANDALONE_HOME = os.environ.get(
    "SPARK_STANDALONE_HOME", "/opt/spark-4.1.2-bin-hadoop3"
)
MASTER_URL = "spark://127.0.0.1:7077"


def _validate_body(spark, df, rows: int):
    from pandera_unified_validator_spark import SparkValidator
    from pandera_unified_validator_spark.tokens import source_dim, token_schema

    validator = SparkValidator(
        token_schema(),
        ref_checks={"source": source_dim(spark)},
        key_columns=("doc_id",),
    )

    def once() -> dict:
        n = validator.validate(df).report.n_rows
        if n != rows:
            raise SystemExit(f"validated {n} rows, expected {rows}")
        return {}

    return once


def _token_ops_body(spark, df, rows: int):
    from pyspark.sql import functions as F

    from pandera_unified_validator_spark.operators.token_ops import (
        duplicated_ngram_coverage,
    )

    df = df.select("doc_id", "tokens", "n_tok")

    def once() -> dict:
        cov = duplicated_ngram_coverage(
            df, "doc_id", "tokens", n=8, min_docs=2, n_tok_col="n_tok"
        )
        # both sums, so every output column of the operator is computed
        row = cov.agg(F.sum("dup_tokens"), F.sum("tok_len")).collect()[0]
        return {"dup_tokens": int(row[0])}

    return once


# Per-job defaults. validate: 4-core/6g executors are the measured sweet
# spot (small heaps keep the whole input page-cached — 10g+ executors at 96M
# rows evicted the cache and collapsed run-to-run times 4x). token_ops: the
# headroom shape, 3-core executors (8 of them = 24 busy threads).
JOBS = {
    "validate": {
        "body": _validate_body,
        "rows": 12_000_000,
        "partitions": 128,
        "runs": 5,
        "exec_cores": 4,
        "exec_memory": "6g",
        "dirty": True,
        "rate": "sequences_per_sec",
        "standalone_cache": "scaling_standalone_{}c.json",
        "local_cache": "scaling_local.json",
    },
    "token_ops": {
        "body": _token_ops_body,
        "rows": 400_000,
        "partitions": 96,
        "runs": 3,
        "exec_cores": 3,
        "exec_memory": "4608m",
        "dirty": False,
        "rate": "tokens_per_sec",
        "standalone_cache": "scaling_token_ops_{}c.json",
        "local_cache": "scaling_token_ops_local.json",
        "operator": "duplicated_ngram_coverage(n=8, min_docs=2)",
    },
}


def _setting(job: str, key: str):
    """``PUV_SCALE_<KEY>`` if set, else the job's default."""
    default = JOBS[job][key]
    return type(default)(os.environ.get(f"PUV_SCALE_{key.upper()}", default))


def _measure(spark, job: str) -> dict:
    """The job's measured body under the shared per-run protocol:
    best-of-RUNS after WARMUPS, each run in its own cache scope and followed
    by a driver GC."""
    from pandera_unified_validator_spark.tokens import token_table
    from pandera_unified_validator_spark.utils.cache import operator_cache_scope

    cfg = JOBS[job]
    rows, runs = _setting(job, "rows"), _setting(job, "runs")
    if runs < 1:
        raise SystemExit("PUV_SCALE_RUNS must be >= 1")
    path = os.environ.get("PUV_SCALE_PATH", f"/tmp/puv_scale_{job}_{rows}")
    if not os.path.exists(path):
        token_table(
            spark, rows, dirty=cfg["dirty"], num_partitions=cfg["partitions"]
        ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    n_tokens = int(df.selectExpr("sum(size(tokens)) s").collect()[0]["s"])
    once = cfg["body"](spark, df, rows)

    def run() -> tuple[float, dict]:
        t0 = time.time()
        with operator_cache_scope():
            out = once()
        sec = time.time() - t0
        # drop the py4j refs, then a driver full GC: the ContextCleaner
        # deletes this run's shuffle files before the next run starts
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        return sec, out

    for _ in range(WARMUPS):
        run()
    samples = [run() for _ in range(runs)]
    sec = min(t for t, _ in samples)
    return {
        "rows": rows,
        "tokens": n_tokens,
        **samples[-1][1],
        "sec": round(sec, 3),
        "all_sec": [round(t, 2) for t, _ in samples],
        "sequences_per_sec": round(rows / sec, 1),
        "tokens_per_sec": round(n_tokens / sec, 1),
    }


def child(job: str, n_exec: int, cores: int) -> None:
    """One measured run, printed as one JSON line. ``n_exec == 0`` is one
    ``local[cores]`` JVM; otherwise ``n_exec`` executor JVMs × ``cores``
    each on the standalone master — identical per-executor shape at every
    level, so N→4N varies ONLY the executor count."""
    from pandera_unified_validator_spark.session import get_spark

    gc_opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores}"
    conf = {
        "spark.sql.files.maxPartitionBytes": str(24 * 1024 * 1024),
        "spark.local.dir": LOCAL_DIR,
    }
    if n_exec:
        master, tag = MASTER_URL, {"n_exec": n_exec, "cores_each": cores}
        conf.update({
            "spark.driver.memory": os.environ.get("PUV_DRIVER_MEMORY", "12g"),
            "spark.cores.max": str(n_exec * cores),
            "spark.executor.cores": str(cores),
            "spark.executor.memory": _setting(job, "exec_memory"),
            "spark.pyspark.python": sys.executable,
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.executor.extraJavaOptions": gc_opts,
        })
    else:
        master, tag = f"local[{cores}]", {"cpus": cores}
        conf["spark.driver.extraJavaOptions"] = gc_opts
    spark = get_spark(
        f"scale-{job}-{n_exec}x{cores}",
        master=master,
        shuffle_partitions=JOBS[job]["partitions"],
        extra_conf=conf,
    )
    print(json.dumps({**tag, **_measure(spark, job)}))
    spark.stop()


def _daemon(action: str, script: str, *args: str) -> None:
    # executors write shuffle files and spill under the WORKER's
    # SPARK_LOCAL_DIRS; the app's spark.local.dir only moves the driver's
    env = {
        **os.environ,
        "SPARK_HOME": STANDALONE_HOME,
        "SPARK_LOCAL_DIRS": LOCAL_DIR,
    }
    subprocess.run(
        [os.path.join(STANDALONE_HOME, "sbin", f"{action}-{script}.sh"), *args],
        env=env, check=(action == "start"), capture_output=True, text=True,
    )


def start_cluster(total_cores: int) -> None:
    stop_cluster()  # idempotent: spark-daemon refuses to start over a live pid
    time.sleep(2)
    _daemon("start", "master", "-h", "127.0.0.1", "-p", "7077")
    time.sleep(3)
    _daemon("start", "worker", MASTER_URL, "-c", str(total_cores), "-m", "100g")
    time.sleep(3)


def stop_cluster() -> None:
    _daemon("stop", "worker")
    _daemon("stop", "master")


def _run_child(job: str, args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--job", job, *args],
        capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(out.stdout[-2000:], out.stderr[-2000:], sep="\n")
        raise SystemExit(f"child {job} {' '.join(args)} produced no result")
    print(lines[-1])
    return json.loads(lines[-1])


def _pairs(results: dict[int, dict], rate: str) -> dict:
    summary = {}
    for n in results:
        if 4 * n in results:
            speedup = results[4 * n][rate] / results[n][rate]
            summary[f"{n}->{4 * n}"] = {
                "throughput_N": results[n][rate],
                "throughput_4N": results[4 * n][rate],
                "speedup": round(speedup, 3),
                "scaling_efficiency": round(speedup / 4, 3),
            }
    return summary


_INTRO = """\
Each job below is measured the same way: one job, identical at every
level, over the identical deterministic synthetic token table (parquet,
written once; bit-identical at every level — the generator is a pure
function of (row id, seed=42)), each level in a fresh JVM
(`python tools/bench_scaling.py --job <job> [--standalone]`).

Timing: best of N after untimed warmups (tiered-JIT convergence), fresh
query plan per run (avoids shuffle-reuse shortcuts), a fresh
`operator_cache_scope()` per run and a driver GC after it (each run's
persisted scratch and shuffle files are gone before the next); fixed shuffle
partitions / ~24 MB scan splits (same plan & task count at every level); AQE
on; ParallelGC pinned to the per-process core budget.

The standalone tables are the north rule's protocol — "two cluster sizes (N
and 4N executors)" — run against a real Spark standalone master on this
host: each level schedules the job onto separate executor JVMs with an
IDENTICAL per-executor shape; only the executor COUNT changes between N and
4N.
"""

_ABOUT = {
    "validate": """\
The full-check validation job (null, range, pattern, isin, uniqueness via
hash-shuffled group-count + join-back, referential vs broadcast dimension,
token element-range, cross-column length check — one engine pass) over the
dirty token table. Two executor shapes are recorded: the HEADROOM protocol
(3-core executors: even 8 executors = 24 busy threads leave the 32-core host
room for driver/worker/OS at BOTH levels — the faithful stand-in for a real
cluster, where executors never compete with the driver's host) and the
SATURATING shape (4-core executors: the 8-exec level's 32 threads equal the
host's 32 cores).
""",
    "token_ops": """\
The shuffle-heavy CORPUS operator, the worst-case counterpart to the
scan-dominated validator job (one wide shuffle for uniqueness):
`duplicated_ngram_coverage(n=8, min_docs=2)` (Lee et al. dup-span fraction
over `array<int>` token sequences) on the clean token table — an 8-gram
explode of every token position (107M gram rows from 400k docs), a
corpus-sized distinct, a dup-gram aggregate, a join back to positions, and a
per-doc window + sum. Headroom shape (3-core executors); N→4N is read on
tokens/sec.
""",
}

_LOCAL = """\
The same job inside ONE JVM at several thread counts. This is NOT the
north-rule protocol (a cluster adds executor processes, not threads in one
process) — kept as the honest record of the single-process ceiling.
"""

_ANALYSIS = """\
## Analysis

Inside one JVM, thread-scaling of the validate job collapses past ~8 cores:
the parquet `array<int32>` decode and check pipeline is allocation-heavy,
and 32 executor threads share one allocator, one GC, and one code cache.
Moving the SAME total core budget into separate executor processes (the
standalone rows above) removes most of that ceiling — per-component
measurements on this host: scan+decode scales at ~0.90 efficiency across
executor JVMs, the uniqueness shuffle at ~0.66; per-core throughput is FLAT
from 4 to 16 total cores.

The two validate shapes bracket the engine's true scaling. Under the
HEADROOM protocol (3-core executors, so even the 8-executor level's 24 busy
threads leave cores for driver + worker daemon + OS at every level — the
situation every executor enjoys in a real multi-node cluster) BOTH N→4N
pairs clear the bar; the tables above carry the latest measurements (round 5
re-ran the 2 and 8 levels on the round-5 engine: **2→8 = 0.965**; the
round-3 record read 1→4 = 0.888 and 2→8 = 0.885). Under the SATURATING
shape (4-core executors) the same 2→8 pair reads 0.736 — because at 8×4
the job's 32 executor threads equal the box's 32 cores and the driver
JVM, worker daemon, Python process, and OS all steal from executor time
(~20% per-core drop observed only at the 32-core level, flat before it);
its 1→4 pair, which still has headroom, reads 0.837. Round 2 inferred the
host-saturation explanation; round 3's headroom run CONFIRMS it by
measurement — the sub-0.8 reading was host topology, not the engine.
Config notes that matter: small executors beat big ones at equal total
cores (smaller heaps, less per-JVM contention), and total JVM heap must
be sized so the input stays page-cached (10g executors at a 50 GB input
evicted the cache and collapsed run times 4×).

Getting a faithful token_ops reading required removing two single-host
artifacts; the earlier reading is preserved in a committed JSON:

1. **Root-disk contention** (`scaling_token_ops_3c_rootdisk.json`, not
   rendered above): this host's ONE disk was 90% full (≈10 GB free), and in
   standalone mode executors place shuffle files + cache spill under the
   WORKER's `SPARK_LOCAL_DIRS` (the app-level `spark.local.dir` only moves
   the driver's block manager). With 8 executors sharing that near-full
   disk the wide level took 66.4s with 2× run variance, far below the bar —
   and an 8-run session ENOSPC'd outright. Starting the worker with
   `SPARK_LOCAL_DIRS` on tmpfs (every real cluster node has its own disks;
   this box does not) recovered the wide level to 33.3s and collapsed the
   variance. The harness now does this for every job.
2. **Insufficient warmups**: 2 warmups left every session's run times
   still descending (tiered JIT); the recorded reading uses 4 full warmups
   and its timed runs are tight (level 8: 37.5/41.3/34.4/33.3s).

The residual token_ops gap to 1.0 is consistent with the single-host
shuffle ceiling measured on the validator job (its uniqueness-shuffle
component scales at ~0.66 across executor JVMs — all 24 threads share one
memory bus for map-side serialization + fetch); a real 4N-node cluster adds
memory bandwidth and NICs with the executors, this box cannot. The operator
itself was also made cheaper while measuring: the corpus-sized distinct now
carries `(gram_hash long, xxhash64(doc_id) long)` instead of `(long,
string)` rows — the dup-gram count never needs the ids — cutting the
dominant exchange's bytes ~40% (level-2 wall 103.8→89.4s best across
sessions on the same disk protocol).

Caveat: this host is a shared VM with nonzero CPU steal (visible in
/proc/stat); identical runs vary up to 3×. Best-of-N after warmups is used
everywhere to approximate the steady-state ceiling.
"""


def _tables(rec: dict) -> str:
    """The level table and the N→4N pair table of one result cache."""
    levels = list(rec["levels"].values())
    rates = [k for k in ("sequences_per_sec", "tokens_per_sec") if k in levels[0]]
    if "n_exec" in levels[0]:
        head, unit = ["executors×cores", "total cores"], " executors"

        def cells(r):
            return [f"{r['n_exec']}×{r['cores_each']}", r["n_exec"] * r["cores_each"]]
    else:
        head, unit = ["threads"], ""

        def cells(r):
            return [r["cpus"]]

    head += ["wall sec"] + [k.replace("_per_", "/") for k in rates]
    lines = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    for r in sorted(levels, key=lambda r: cells(r)[-1]):
        row = cells(r) + [r["sec"]] + [f"{r[k]:,}" for k in rates]
        lines.append("| " + " | ".join(map(str, row)) + " |")
    lines += ["", "| N → 4N | speedup | efficiency |", "|---|---|---|"]
    lines += [
        f"| {k}{unit} | {v['speedup']:.3f}× | **{v['scaling_efficiency']:.3f}** |"
        for k, v in rec["summary"].items()
    ]
    return "\n".join(lines) + "\n"


def _load(name: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(BENCH, name))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def write_md(out: str = os.path.join(BENCH, "BASELINE.md")) -> str:
    """Render ``out`` from every job's result caches: one standalone cache
    per executor shape (a headroom 3-core run and the saturating 4-core run
    coexist) plus the single-JVM local record."""
    parts = ["# BENCH/BASELINE — scaling-efficiency evidence\n", _INTRO]
    for job, cfg in JOBS.items():
        standalone = _load(cfg["standalone_cache"].format("[0-9]"))
        local = _load(cfg["local_cache"])
        if standalone or local:
            parts.append(f"## Job `{job}`\n\n{_ABOUT[job]}")
        for rec in standalone + local:
            r = next(iter(rec["levels"].values()))
            dirs = rec.get("local_dir", "the default (taken before tmpfs dirs, "
                           "per-run cache scopes and driver GC joined the protocol)")
            if "n_exec" in r:
                mem = rec["exec_memory"]
                title = f"N vs 4N executor processes: {r['cores_each']} cores / {mem} each"
                shape = (f"Per-executor: {r['cores_each']} cores, {mem}, ParallelGC "
                         f"with {r['cores_each']} GC threads.\n")
            else:
                title, shape = "Single-JVM record: local[N] thread scaling", _LOCAL
            parts.append(
                f"### {title}\n\n{shape}Input: {r['rows']:,} sequences "
                f"({r['tokens']:,} tokens). Block-manager dirs: {dirs}.\n\n"
                + _tables(rec)
            )
    parts.append(_ANALYSIS)
    text = "\n".join(parts)
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out}")
    return text


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--job", choices=tuple(JOBS), default="validate")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--standalone", action="store_true",
                      help="N vs 4N executor processes on a local standalone daemon")
    mode.add_argument("--child", type=int, metavar="CPUS", help=argparse.SUPPRESS)
    mode.add_argument("--child-standalone", type=int, nargs=2,
                      metavar=("N_EXEC", "CORES"), help=argparse.SUPPRESS)
    args = p.parse_args()
    job, cfg = args.job, JOBS[args.job]
    if args.child:
        return child(job, 0, args.child)
    if args.child_standalone:
        return child(job, *args.child_standalone)

    if args.standalone:
        cores = _setting(job, "exec_cores")
        start_cluster(total_cores=max(EXEC_LEVELS) * cores)
        try:
            results = {
                n: _run_child(job, ["--child-standalone", str(n), str(cores)])
                for n in EXEC_LEVELS
            }
        finally:
            stop_cluster()
        # merge into any existing same-shape cache so separately-run pairs
        # (e.g. 2,8 one session, 1,4 the next) accumulate per executor shape
        name = cfg["standalone_cache"].format(cores)
        cache = os.path.join(BENCH, name)
        merged = {int(k): v for rec in _load(name) for k, v in rec["levels"].items()}
        merged.update(results)
        record = {"levels": merged, "summary": _pairs(merged, cfg["rate"]),
                  "exec_cores": cores, "exec_memory": _setting(job, "exec_memory")}
        if "operator" in cfg:
            record["operator"] = cfg["operator"]
    else:
        cache = os.path.join(BENCH, cfg["local_cache"])
        results = {c: _run_child(job, ["--child", str(c)]) for c in LEVELS}
        record = {"levels": results, "summary": _pairs(results, cfg["rate"])}
    record["local_dir"] = LOCAL_DIR
    print(json.dumps(record["summary"]))
    os.makedirs(BENCH, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({**record, "levels": {str(k): v for k, v in record["levels"].items()}},
                  f, indent=1)
    write_md()


if __name__ == "__main__":
    main()
