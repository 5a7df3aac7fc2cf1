"""The three benchmark workloads.

Each workload is a closed loop with one client: the next operation starts only
after the previous one returned and its output was checked. Inputs are a pure
function of the workload seed (``tokens.token_table(seed=...)``); the program
sees only the generated tables.

* ``validate_resident`` -- repeated ``SparkValidator.validate`` on a dirty
  token table persisted in memory, then one ``violations().count()``.
* ``resume_groups`` -- ``PartitionedValidationRunner`` over Parquet files:
  a cold pass over every group, then a pass after half of the lineage
  records were deleted (a killed job resuming).
* ``span_dedup_pack`` -- ``token_sequence_flags`` -> ``remove_duplicated_spans``
  -> Parquet, then ``pack_sequences`` -> ``materialize_packed_bins`` -> Parquet.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from pandera_unified_validator_spark import (
    PartitionedValidationRunner,
    SparkValidator,
    ValidationMetrics,
    operator_cache_scope,
    release_operator_caches,
    to_opentelemetry,
    to_prometheus,
)
from pandera_unified_validator_spark.operators import token_ops
from pandera_unified_validator_spark.tokens import (
    VOCAB_SIZE,
    expected_dirty_counts,
    source_dim,
    token_schema,
    token_table,
)
from pandera_unified_validator_spark.utils.cache import registry

from tracing import SparkProbe, Tracer

__all__ = ["Ctx", "WORKLOADS", "tail"]

# rows per workload; "tiny" is the self-check size
SCALES = {
    "std": {"validate_resident": 40_000, "resume_groups": 16_000, "span_dedup_pack": 3_000},
    "tiny": {"validate_resident": 3_000, "resume_groups": 2_000, "span_dedup_pack": 1_000},
}
RESUME_FILES = {"std": 8, "tiny": 4}
FILES_PER_GROUP = 2
SPAN_N = 8
BOILERPLATE_LEN = 32
CAPACITY = 2048


@dataclass
class Ctx:
    spark: object
    probe: SparkProbe
    tracer: Tracer
    tmp: str
    seed: int
    cpus: int
    scale: str
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: object = "") -> None:
        """Record one output check of the current operation."""
        if not ok:
            self.failures.append(f"{name}: {detail}")

    def op(self, fn, *args):
        """Run one operation (a set-up, a loop step or the final step); it
        counts as failed when any of its output checks fails."""
        before = len(self.failures)
        self.attempted += 1
        try:
            return fn(*args)
        finally:
            self.failed += len(self.failures) > before

    def rows(self, workload: str) -> int:
        return SCALES[self.scale][workload]

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def wait_no_operator_cache(self, marker: str, timeout_s: float = 30.0) -> bool:
        """True once no cached RDD's plan mentions ``marker``. Unpersisting is
        asynchronous, so poll the block manager's storage info."""
        deadline = time.perf_counter() + timeout_s
        while True:
            if not any(marker in n for n in self.probe.storage()[2]):
                return True
            if time.perf_counter() > deadline:
                return False
            time.sleep(0.02)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it (nearest
    rank), labelled ``p<k>``; the maximum, labelled ``max``, when fewer than
    twenty samples leave no percentile at or above the median."""
    xs = sorted(samples)
    n = len(xs)
    p = (100 * (n - 10)) // n if n > 10 else 0
    if p < 50:
        return xs[-1], "max"
    rank = max(1, -(-p * n // 100))  # ceil(p * n / 100)
    return xs[rank - 1], f"p{p}"


def _report_sinks(ctx: Ctx, metrics: ValidationMetrics, report) -> None:
    """Export a result through the report sinks, as a monitored job would."""
    with ctx.tracer.span("reporting.render"):
        report.to_json()
        to_prometheus(metrics)
        to_opentelemetry(metrics)


def _metrics_of(report) -> ValidationMetrics:
    m = ValidationMetrics()
    m.update(
        report.n_rows - report.n_invalid_rows,
        report.n_invalid_rows,
        {c.name: c.n_failed for c in report.checks if c.n_failed},
    )
    return m


def _sample_cache(ctx: Ctx, rec: dict) -> None:
    """Cached bytes and operator-cache registry size at the operation's peak
    (right after its Spark call, before any release), traced runs only."""
    if ctx.tracer.enabled:
        rec["cache_mem"], rec["cache_disk"], _ = ctx.probe.storage()
        rec["cache_entries"] = len(registry.labels())


# --------------------------------------------------------------------------


class ValidateResident:
    """Validator throughput on an in-memory input: no input I/O, so the plan
    compiler, the codegen flag pass, the eager dup-key tier of ``unique`` and
    the broadcast referential join do the work."""

    name = "validate_resident"
    warmup_iters = 2
    min_iters = 5

    def __init__(self) -> None:
        self.df = None
        self.n = 0
        self.last = None
        self.violations_s = None

    def setup(self, ctx: Ctx, k: int) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.n = ctx.rows(self.name)
        self.df = token_table(
            ctx.spark, self.n, dirty=True, seed=ctx.seed, num_partitions=4 * ctx.cpus
        ).persist()
        ctx.check("setup.rows", self.df.count() == self.n)
        self.dim = source_dim(ctx.spark)
        self.expected = expected_dirty_counts(self.n)

    def iterate(self, ctx: Ctx) -> dict:
        # the previous call's dup-key set must not be cached any more, or this
        # call would read it back instead of recomputing it
        release_operator_caches()
        ctx.check("no_stale_dup_keys", ctx.wait_no_operator_cache("__dup_key"))
        rec: dict = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("validator.validate", spark=True) as sp:
            res = SparkValidator(
                token_schema(), ref_checks={"source": self.dim}, key_columns=("doc_id",)
            ).validate(self.df)
        rec["wall"] = time.perf_counter() - t0
        _sample_cache(ctx, rec)
        if sp is not None:
            eager = any(lbl.startswith("SparkValidator.dup_keys.") for lbl in registry.labels())
            rec["unique_tier"] = 2 if eager else 1
        _report_sinks(ctx, _metrics_of(res.report), res.report)
        got = {c.name: c.n_failed for c in res.report.checks}
        for name, want in self.expected.items():
            ctx.check(f"verdict.{name}", got.get(name) == want, (got.get(name), want))
        ctx.check("n_rows", res.report.n_rows == self.n, res.report.n_rows)
        self.last = res
        return rec

    def finish(self, ctx: Ctx) -> None:
        res = self.last
        t0 = time.perf_counter()
        with ctx.tracer.span("validator.violations", spark=True):
            n_viol = res.violations().count()
        self.violations_s = time.perf_counter() - t0
        ctx.check("violations_rows", n_viol == res.report.n_invalid_rows,
                  (n_viol, res.report.n_invalid_rows))
        release_operator_caches()

    def end_to_end(self, iters: list[dict]) -> dict:
        walls = [r["wall"] for r in iters]
        p50 = statistics.median(walls)
        tv, tl = tail(walls)
        return {
            "gate": {"op_p50_s": p50, "items_per_s": self.n / p50},
            "named": {
                "sequences_per_s": (self.n / p50, "rows/s"),
                "validate_p50_s": (p50, "s"),
                "validate_tail_s": (tv, "s", f"{tl} of n={len(walls)}"),
                "violations_s": (self.violations_s, "s"),
            },
        }


class ResumeGroups:
    """The resumable lineage loop: many small validator jobs, a Parquet decode
    of ``array<int>`` per group and atomic lineage writes between them."""

    name = "resume_groups"
    warmup_iters = 1
    min_iters = 3

    def __init__(self) -> None:
        self.src = None
        self.totals = None

    def setup(self, ctx: Ctx, k: int) -> None:
        if self.src is not None:
            shutil.rmtree(self.src)
        self.n = ctx.rows(self.name)
        self.src = ctx.path(f"resume_input_{k}")
        token_table(
            ctx.spark, self.n, dirty=True, seed=ctx.seed,
            num_partitions=RESUME_FILES[ctx.scale],
        ).write.parquet(self.src)
        n_files = len(glob.glob(os.path.join(self.src, "*.parquet")))
        ctx.check("setup.files", n_files == RESUME_FILES[ctx.scale], n_files)

    def _runner(self, ctx: Ctx, ckpt: str) -> PartitionedValidationRunner:
        return PartitionedValidationRunner(
            SparkValidator(
                token_schema(), ref_checks={"source": source_dim(ctx.spark)},
                key_columns=("doc_id",),
            ),
            checkpoint_dir=ckpt,
            error_threshold=None,
            files_per_group=FILES_PER_GROUP,
        )

    def iterate(self, ctx: Ctx) -> dict:
        ckpt = ctx.path("lineage")
        shutil.rmtree(ckpt, ignore_errors=True)
        rec: dict = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("runner.cold", spark=True):
            cold = self._runner(ctx, ckpt).run(ctx.spark, self.src)
        rec["cold_s"] = time.perf_counter() - t0
        _sample_cache(ctx, rec)
        # a killed job: every other finished group lost its lineage record
        records = sorted(glob.glob(os.path.join(ckpt, "group-*.json")))
        for p in records[::2]:
            os.remove(p)
        kept = len(records) - len(records[::2])
        t1 = time.perf_counter()
        with ctx.tracer.span("runner.resume", spark=True):
            warm = self._runner(ctx, ckpt).run(ctx.spark, self.src)
        rec["resume_s"] = time.perf_counter() - t1
        rec["wall"] = rec["cold_s"] + rec["resume_s"]
        if ctx.tracer.enabled:
            eager = any(lbl.startswith("SparkValidator.dup_keys.") for lbl in registry.labels())
            rec["unique_tier"] = 2 if eager else 1
        _report_sinks(ctx, warm.metrics, cold.report)

        done = [g for g in cold.groups + warm.groups if not g.resumed]
        resumed = sum(g.resumed for g in warm.groups)
        rec["group_s"] = [g.elapsed_sec for g in done]
        rec["rows_validated"] = sum(g.n_rows for g in done)
        rec["groups_validated"] = len(done)
        rec["groups_resumed"] = resumed
        rec["resume_skip_ratio"] = resumed / kept if kept else 0.0
        rec["overhead_s"] = sum(
            r.metrics.elapsed_sec - sum(g.elapsed_sec for g in r.groups if not g.resumed)
            for r in (cold, warm)
        )
        totals = [
            (r.metrics.total_rows, r.metrics.invalid_rows, dict(r.metrics.common_errors))
            for r in (cold, warm)
        ]
        ctx.check("resume_totals_equal_cold", totals[0] == totals[1], totals)
        ctx.check("groups_resumed_equal_kept", resumed == kept, (resumed, kept))
        ctx.check("cold_rows", cold.metrics.total_rows == self.n, cold.metrics.total_rows)
        if self.totals is None:
            self.totals = totals[0]
        ctx.check("totals_repeat", totals[0] == self.totals)
        return rec

    def finish(self, ctx: Ctx) -> None:
        pass

    def end_to_end(self, iters: list[dict]) -> dict:
        cold = statistics.median(r["cold_s"] for r in iters)
        groups = [s for r in iters for s in r["group_s"]]
        g50 = statistics.median(groups)
        rows_per_s = sum(r["rows_validated"] for r in iters) / sum(r["wall"] for r in iters)
        return {
            "gate": {"op_p50_s": g50, "items_per_s": rows_per_s},
            "named": {
                "cold_run_s": (cold, "s"),
                "resume_run_s": (statistics.median(r["resume_s"] for r in iters), "s"),
                "group_p50_s": (g50, "s", f"n={len(groups)}"),
            },
        }


class SpanDedupPack:
    """Token curation: exchanges, the gram persist in ``utils.cache`` and the
    two global session defaults do the work; the validator does none."""

    name = "span_dedup_pack"
    warmup_iters = 2
    min_iters = 5

    def __init__(self) -> None:
        self.src = None
        self.removed = None
        self.i = 0

    def _input(self, ctx: Ctx):
        base = token_table(
            ctx.spark, self.n, seed=ctx.seed, mean_scale=512, num_partitions=4 * ctx.cpus
        )
        run = F.array(*[
            F.lit((ctx.seed * 7919 + j * 104729) % VOCAB_SIZE) for j in range(BOILERPLATE_LEN)
        ])
        has_run = F.pmod(F.xxhash64("doc_id", F.lit(ctx.seed)), F.lit(3)) == 0
        toks = F.when(has_run, F.concat("tokens", run)).otherwise(F.col("tokens"))
        return base.withColumn("tokens", toks).withColumn("n_tok", F.size("tokens"))

    def setup(self, ctx: Ctx, k: int) -> None:
        if self.src is not None:
            shutil.rmtree(self.src)
        self.n = ctx.rows(self.name)
        self.src = ctx.path(f"tokops_input_{k}")
        self._input(ctx).write.parquet(self.src)
        self.tokens = None

    def iterate(self, ctx: Ctx) -> dict:
        if self.tokens is None:  # first (warm-up) step: size the input once
            row = ctx.spark.read.parquet(self.src).agg(
                F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("toks")
            ).first()
            ctx.check("input_rows", row["rows"] == self.n, row["rows"])
            self.tokens = int(row["toks"])
        self.i += 1
        clean_p, bins_p = ctx.path(f"clean_{self.i}"), ctx.path(f"bins_{self.i}")
        shards = 4 * ctx.cpus
        rec: dict = {}
        t0 = time.perf_counter()
        with operator_cache_scope():
            with ctx.tracer.span("token_ops.spans", spark=True):
                flagged = token_ops.token_sequence_flags(
                    ctx.spark.read.parquet(self.src), vocab_size=VOCAB_SIZE
                )
                cleaned = token_ops.remove_duplicated_spans(
                    flagged.filter("seq_ok"), n=SPAN_N, keep_cols=("source",)
                )
                cleaned.write.parquet(clean_p)
            _sample_cache(ctx, rec)
        t1 = time.perf_counter()
        with ctx.tracer.span("token_ops.pack", spark=True):
            cl = ctx.spark.read.parquet(clean_p).withColumn("n_tok", F.size("tokens"))
            packed = token_ops.pack_sequences(cl, capacity=CAPACITY, shards=shards, seed=ctx.seed)
            token_ops.materialize_packed_bins(
                cl, packed, capacity=CAPACITY, pad_id=VOCAB_SIZE,
                copartition=True, shards=shards, seed=ctx.seed,
            ).write.parquet(bins_p)
        t2 = time.perf_counter()
        rec.update(wall=t2 - t0, spans_s=t1 - t0, pack_s=t2 - t1)
        ctx.check("grams_released", ctx.wait_no_operator_cache("__pos"))

        c = ctx.spark.read.parquet(clean_p).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_removed").alias("removed"),
            F.sum((F.col("tok_len") - F.col("n_removed") != F.size("tokens")).cast("int"))
            .alias("bad_len"),
        ).first()
        b = ctx.spark.read.parquet(bins_p).agg(
            F.sum("n_seqs").alias("seqs"),
            F.sum((F.size("tokens") != CAPACITY).cast("int")).alias("bad_cap"),
        ).first()
        ctx.check("clean_rows", c["rows"] == self.n, c["rows"])
        ctx.check("kept_plus_removed", c["bad_len"] == 0, c["bad_len"])
        ctx.check("bins_full_capacity", b["bad_cap"] == 0, b["bad_cap"])
        ctx.check("bins_hold_every_row", b["seqs"] == self.n, b["seqs"])
        ctx.check("spans_removed", c["removed"] > 0, c["removed"])
        if self.removed is None:
            self.removed = c["removed"]
        ctx.check("removed_repeat", c["removed"] == self.removed, (c["removed"], self.removed))
        rec["removed_tokens"] = c["removed"]
        shutil.rmtree(clean_p)
        shutil.rmtree(bins_p)
        return rec

    def finish(self, ctx: Ctx) -> None:
        pass

    def end_to_end(self, iters: list[dict]) -> dict:
        run = statistics.median(r["wall"] for r in iters)
        return {
            "gate": {"op_p50_s": run, "items_per_s": self.tokens / run},
            "named": {
                "tokops_run_s": (run, "s"),
                "tokens_per_s": (self.tokens / run, "tokens/s"),
            },
        }


WORKLOADS = {w.name: w for w in (ValidateResident, ResumeGroups, SpanDedupPack)}
