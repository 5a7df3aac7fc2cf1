"""The Spark-native validation engine.

Replaces the reference's ``UnifiedValidator`` eager pandas/pandera/Pydantic
pipeline (reference ``core/validator.py:109-167``, lifecycle in SURVEY.md §3.1)
with a single declarative plan:

1. driver-side preflight: missing columns (C10) + dtype conformance (C9);
2. ONE whole-stage-codegen pass computing every row-local check as a boolean
   flag column (C1-C7, U1-U3) — no Python in the hot path;
3. global checks as their scalable Spark shapes:
   * ``unique`` (C8) → map-side-combined ``groupBy(key).count()`` (the
     duplicate-key set is tiny when data is mostly clean) → **broadcast**
     left join back to flag member rows — the hash-repartitioned distinct
     count of the north rule without a sort or window;
   * referential (C6 against a dimension DataFrame) → a row-local
     ``col IN (keys)`` flag when the dimension has at most
     ``REF_INLINE_CAP`` distinct keys (read once per validator), otherwise a
     **broadcast** left join against the distinct dimension keys;
4. one aggregation producing per-partition × per-check verdict counts;
5. violation rows as a DataFrame (keyed by the caller's key columns, e.g.
   ``doc_id`` — positional pandas indices from
   ``backends/pandas_backend.py:77-98`` are not stable under distribution,
   SURVEY.md §7.4.1), each row carrying ``failed_checks array<string>``.

Checks always run in collect-all mode (reference "lazy"); ``fail_fast`` only
controls raise-vs-return, matching ``core/validator.py:136-137``.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.compiler import (
    CompiledCheck,
    GlobalCheck,
    compile_schema,
    dtype_errors,
)
from ..plans.schema import ValidationSchema
from ..utils.cache import registry as _cache
from ..utils.reporting import CheckResult, ValidationReport

__all__ = [
    "SparkValidator",
    "ValidationResult",
    "ValidationFailedError",
    "FLAG_PREFIX",
    "REF_INLINE_CAP",
]

FLAG_PREFIX = "__chk_"
_PID = "__puv_pid"
_ROW_OK = "__puv_row_ok"

# A referential dimension with at most this many distinct non-NULL keys is
# checked as the row-local flag ``col IN (keys)``: no join, no broadcast job
# and no dimension scan after the first call. Larger ones keep the broadcast
# join. Per validate of 2M rows on local[4], inline vs join: 0.33 vs 0.45 s
# at 1,024 keys, even at 4,096, 0.62 vs 0.34 s at 15,000.
REF_INLINE_CAP = 1024
# a dimension whose key column Catalyst already estimates above this size is
# joined without the bounded probe collect (it would cost one extra scan of a
# table that large, which almost never holds few enough keys to inline)
_REF_PROBE_BYTES = 8 << 20
# key types whose collected Python values cross to JVM literals exactly and
# compare like the join's equality (floating keys differ on -0.0 / NaN)
_INLINE_KEY_TYPES = (T.IntegralType, T.DecimalType, T.StringType, T.BooleanType)

_LOG = logging.getLogger(__name__)


from ..plans.stats import plan_size_bytes as _plan_size_bytes  # noqa: E402  (shared with dedup)


def _inline_comparable(fact: T.DataType, key: T.DataType) -> bool:
    """True when ``fact IN (key literals)`` compares exactly like the join's
    ``fact = key``: exact numerics of any width, or the same atomic type."""
    exact = (T.IntegralType, T.DecimalType)
    if isinstance(key, exact):
        return isinstance(fact, exact)
    return type(fact) is type(key)


@dataclass(frozen=True)
class _Compiled:
    """What the schema compiles to for one input column list."""

    row_checks: list[CompiledCheck]
    global_checks: list[GlobalCheck]
    missing: list[str]
    flag_cols: list[Column]  # one NULL-is-FAIL flag per row check


class ValidationFailedError(Exception):
    def __init__(self, report: ValidationReport):
        self.report = report
        super().__init__(
            f"validation failed: {len(report.failed_checks)} failed checks, "
            f"{report.n_invalid_rows} invalid rows"
        )


@dataclass
class ValidationResult:
    """Outcome bundle: driver-side report + distributed DataFrames.

    ``flags`` is the annotated input (original columns + one boolean flag per
    check + ``__puv_row_ok``); everything else derives from it lazily so
    callers pay only for what they use.
    """

    report: ValidationReport
    flags: DataFrame
    checks: tuple[str, ...]                   # flag column names (no prefix)
    verdicts: DataFrame                        # per-partition × check counts (long)
    key_columns: tuple[str, ...] = ()

    @property
    def is_valid(self) -> bool:
        return self.report.is_valid

    def violations(self, include_flags: bool = False) -> DataFrame:
        """Invalid rows + ``failed_checks array<string>`` (P5/P6 analogue)."""
        failed_names = F.array_compact(
            F.array(
                *[
                    F.when(~F.col(FLAG_PREFIX + c), F.lit(c))
                    for c in self.checks
                ]
            )
        )
        out = self.flags.filter(~F.col(_ROW_OK)).withColumn("failed_checks", failed_names)
        if not include_flags:
            out = out.drop(*[FLAG_PREFIX + c for c in self.checks], _ROW_OK, _PID)
        return out

    def valid_rows(self) -> DataFrame:
        """The clean split (reference backends/pandas_backend.py:64-75)."""
        drop = [FLAG_PREFIX + c for c in self.checks] + [_ROW_OK, _PID]
        return self.flags.filter(F.col(_ROW_OK)).drop(*drop)

    def invalid_rows(self) -> DataFrame:
        drop = [FLAG_PREFIX + c for c in self.checks] + [_ROW_OK, _PID]
        return self.flags.filter(~F.col(_ROW_OK)).drop(*drop)


class SparkValidator:
    """Validate a DataFrame against a ValidationSchema — one pass, all checks.

    Parameters
    ----------
    schema:
        the declarative schema, compiled once per validator and input column
        list (build a new validator after changing it).
    ref_checks:
        ``{column: dimension DataFrame | (dimension DataFrame, key column)}``
        — referential integrity against a dimension table (C6 at scale; the
        north rule's "source against an allowed-values dimension"; the key
        column defaults to the dimension's first). Each dimension is read
        ONCE per validator, on first use, by a bounded collect of at most
        ``REF_INLINE_CAP + 1`` distinct non-NULL keys. With at most
        ``REF_INLINE_CAP`` keys the check is the row-local flag
        ``col IS NULL OR col IN (keys)`` — no join, and later calls never
        scan the dimension again, so build a new validator to see a changed
        dimension; ``violations()`` then agrees with the report even if the
        dimension changes afterwards. Larger dimensions (or key types
        without exact literals, e.g. floating keys) keep the broadcast left
        join against the distinct keys, which re-reads the dimension per
        action. The tier is reported per check in
        ``report.metadata["referential_plan"]`` (``"inline"`` /
        ``"broadcast"``).
    key_columns:
        stable row identity for violation reporting (e.g. ``("doc_id",)``).
    partition_by:
        logical partition column for per-partition verdicts; default =
        physical ``spark_partition_id()``.
    """

    def __init__(
        self,
        schema: ValidationSchema,
        *,
        ref_checks: Mapping[str, DataFrame | tuple[DataFrame, str]] | None = None,
        key_columns: Sequence[str] = (),
        partition_by: str | None = None,
        collect_samples: bool = False,
        max_samples: int = 5,
        fail_fast: bool = False,
        unique_strategy: str = "auto",
        broadcast_dup_limit: int = 4_000_000,
        stats_broadcast_bytes: int = 32 << 20,
    ) -> None:
        """``unique_strategy``:

        * ``"direct"`` — groupBy the key itself. Shuffle carries the full key
          (~30+ B for doc_id strings at 10^12 rows). Dup-key set broadcast.
        * ``"hash_prefilter"`` — shuffle only ``xxhash64(key)`` (8 B fixed) to
          find duplicate *hashes*, then exact-verify just those candidate
          rows (semi-join + tiny groupBy). ~4x less shuffle for string keys;
          64-bit collisions only ever ADD candidates (n²/2⁶⁵ expected — a
          few 10k at 10^12 rows), never lose a duplicate, and the exact pass
          removes them. Correct for mostly-clean data; with huge duplicate
          sets the candidate broadcast degrades — keep "direct" there.
        * ``"auto"`` — two tiers, both exact-safe:

          1. *Catalyst-stats fast path*: when the input relation's
             plan-estimated size is ≤ ``stats_broadcast_bytes`` (32 MB —
             file bytes for parquet, cached bytes for persisted inputs; no
             job, no scan), even a worst-case every-row-duplicated dup-key
             set broadcasts comfortably, so the single-job ``"direct"``
             broadcast plan runs as-is. This keeps small inputs (a
             partition group, a micro-batch, test scale) at one job with
             zero fixed overhead.
          2. otherwise the dup-key set is computed EAGERLY (persist +
             count): the same column-pruned scan + map-side-combined
             groupBy the join-back needs anyway runs as its own job, the
             (tiny, for mostly-clean data) result is cached, and the EXACT
             dup-key count picks the join-back shape — within
             ``broadcast_dup_limit`` → broadcast (zero exchange on the big
             side); otherwise → plain shuffled left join from the cache
             (AQE may still broadcast at runtime). Heavily-duplicated
             10^12-row inputs can't OOM the driver, and total input scans
             equal the ``"direct"`` plan's two; the one extra *job* is
             fixed overhead that vanishes at scale (round 3 instead ran a
             separate approx_count_distinct estimate scan before the main
             pass — +64% on ``check_unique``, −23% token throughput,
             BENCH_r02→r03).

          **Default** — callers who haven't read this far get the OOM-safe
          plan; the chosen join shape is surfaced per check in
          ``report.metadata["unique_join_plan"]``.
        """
        if unique_strategy not in ("direct", "hash_prefilter", "auto"):
            raise ValueError(f"unknown unique_strategy {unique_strategy!r}")
        self.schema = schema
        self.ref_checks = dict(ref_checks or {})
        self.key_columns = tuple(key_columns)
        self.partition_by = partition_by
        self.collect_samples = collect_samples
        self.max_samples = max_samples
        self.fail_fast = fail_fast
        self.unique_strategy = unique_strategy
        self.broadcast_dup_limit = int(broadcast_dup_limit)
        self.stats_broadcast_bytes = int(stats_broadcast_bytes)
        # filled per annotate() call: {check_name: "broadcast" | "shuffle"}
        self.unique_join_plan: dict[str, str] = {}
        # filled per annotate() call: {check_name: "inline" | "broadcast"}
        self.referential_plan: dict[str, str] = {}
        # filled per annotate() call: human-readable contract caveats
        # (e.g. unique skipped on a stream) — surfaced in report.warnings
        self.warnings: list[str] = []
        # dup-key sets cached by the "auto" strategy; released on the next
        # annotate() (unpersist only drops the cache — recompute is safe)
        self._persisted: list[DataFrame] = []
        # per-validator invariants, resolved on first use: the compiled
        # schema per input column list, the row-ok/verdict columns per flag
        # list, and each dimension's inline key test (None = join tier)
        self._compiled_by_cols: dict[tuple[str, ...], _Compiled] = {}
        self._by_flags: dict[tuple[str, ...], tuple[Column, list[Column]]] = {}
        self._ref_inline: dict[str, tuple[Column, T.DataType] | None] = {}

    def _compiled(self, columns: Sequence[str]) -> _Compiled:
        """``compile_schema`` once per input column list (the schema is read
        once per validator, like the dimensions)."""
        key = tuple(columns)
        hit = self._compiled_by_cols.get(key)
        if hit is None:
            row_checks, global_checks, missing = compile_schema(self.schema, columns)
            # NULL check result (possible from custom SQL/UDF) counts as FAIL,
            # matching pandera's treatment of non-boolean check output.
            flag_cols = [
                F.coalesce(chk.expr, F.lit(False)).alias(FLAG_PREFIX + chk.name)
                for chk in row_checks
            ]
            hit = _Compiled(row_checks, global_checks, missing, flag_cols)
            self._compiled_by_cols[key] = hit
        return hit

    def _flag_columns(self, flag_names: tuple[str, ...]) -> tuple[Column, list[Column]]:
        """(row-ok column, verdict aggregates) for one flag list."""
        hit = self._by_flags.get(flag_names)
        if hit is None:
            flags = [F.col(FLAG_PREFIX + n) for n in flag_names]
            row_ok = reduce(lambda a, b: a & b, flags) if flags else F.lit(True)
            aggs = [
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.col(_ROW_OK)).cast("long")).alias("n_invalid_rows"),
            ] + [F.sum((~f).cast("long")).alias(n) for f, n in zip(flags, flag_names)]
            hit = self._by_flags[flag_names] = (row_ok, aggs)
        return hit

    def _dimension(self, col: str) -> tuple[DataFrame, str]:
        dim = self.ref_checks[col]
        return dim if isinstance(dim, tuple) else (dim, dim.columns[0])

    def _inline_keys(self, col: str) -> tuple[Column, T.DataType] | None:
        """``(col IN (keys), key type)`` when ``ref_checks[col]`` has at most
        ``REF_INLINE_CAP`` distinct non-NULL keys, else None (join tier).
        Resolved by a bounded collect on first use, then kept."""
        if col not in self._ref_inline:
            dim_df, dim_col = self._dimension(col)
            keys = dim_df.select(F.col(dim_col).alias("__ref_key"))
            key_type = keys.schema["__ref_key"].dataType
            size = _plan_size_bytes(keys)
            inline = None
            if (
                isinstance(key_type, _INLINE_KEY_TYPES)
                and not dim_df.isStreaming
                and (size is None or size <= _REF_PROBE_BYTES)
            ):
                nn = keys.filter(F.col("__ref_key").isNotNull())
                # a row probe stops after CAP + 1 rows (no shuffle, no full
                # scan); only repeated keys need the exact distinct pass
                rows = nn.limit(REF_INLINE_CAP + 1).collect()
                values = list(dict.fromkeys(r[0] for r in rows))
                if len(rows) > REF_INLINE_CAP >= len(values):
                    values = [r[0] for r in nn.distinct().limit(REF_INLINE_CAP + 1).collect()]
                if len(values) <= REF_INLINE_CAP:
                    # one JVM call for the whole key list (Column.isin makes
                    # one per literal, ~0.5 ms each)
                    test = F.col(col)._jc.isInCollection(values)
                    inline = (Column(test), key_type)
            self._ref_inline[col] = inline
        return self._ref_inline[col]

    # ------------------------------------------------------------------ #
    def annotate(
        self, df: DataFrame, _skip_unique: bool = False
    ) -> tuple[DataFrame, list[CompiledCheck], list[str]]:
        """Input df → df + one boolean flag column per check (TRUE = pass).

        Row-local checks are pure expressions (one codegen stage); unique
        checks become broadcast-join-produced flags, referential checks an
        inline key test or a broadcast join (see ``ref_checks``).
        ``_skip_unique`` omits the unique-join flags entirely — the
        count-only ``check_counts`` path computes unique totals as direct
        aggregates instead (no dup-key materialization, no join-back).
        """
        compiled = self._compiled(df.columns)
        global_checks = compiled.global_checks
        if _skip_unique:
            global_checks = [g for g in global_checks if g.check != "unique"]
        self.unique_join_plan = {}
        self.referential_plan = {}
        self.warnings = []
        for cached in self._persisted:
            _cache.release(cached)
        self._persisted = []
        annotated = df.withColumn(_PID, F.spark_partition_id()).select(
            "*", *compiled.flag_cols
        )
        names: list[CompiledCheck] = list(compiled.row_checks)

        # unique (C8): dup-key set via partial-agg groupBy → broadcast join.
        for g in global_checks:
            if g.check != "unique":
                continue
            if df.isStreaming:
                # Not defined on an unbounded stream (a duplicate may arrive
                # later). Skip, but LOUDLY — a caller declaring unique=True
                # on a stream must not get a silently weaker contract.
                msg = (
                    f"unique check {g.name!r} skipped: uniqueness is "
                    "undefined on an unbounded stream; validate bounded "
                    "micro-batches via foreachBatch "
                    "(streaming.StreamingValidationSink), or use "
                    "streaming.cross_batch_unique_monitor for stateful "
                    "probable-duplicate detection across batches"
                )
                _LOG.warning(msg)
                self.warnings.append(msg)
                continue
            col = g.column
            nn = df.filter(F.col(col).isNotNull())
            strategy = self.unique_strategy
            use_broadcast = True
            dup_keys: DataFrame | None = None
            if strategy == "auto":
                # tier 1: Catalyst-stats fast path — plan-estimated relation
                # bytes (file sizes / cached bytes; NO job) small enough
                # that even an all-duplicates dup-key set broadcasts safely.
                # Also bounded by broadcast_dup_limit (≥8 B per key) so a
                # caller-tightened limit still forces the exact tier.
                size = _plan_size_bytes(df)
                if size is not None and size <= min(
                    self.stats_broadcast_bytes, self.broadcast_dup_limit * 8
                ):
                    strategy = "direct"
                else:
                    # tier 2: eager dup-key job — the column-pruned scan +
                    # map-side-combined groupBy the join-back needs anyway,
                    # cached, so the EXACT dup-key count picks the join
                    # shape with no extra input scan (round 3's separate
                    # approx_count_distinct estimate job was a third scan:
                    # +64% check_unique wall)
                    dup_keys = _cache.persist(
                        nn.groupBy(col)
                        .agg(F.count(F.lit(1)).alias("__dup_n"))
                        .filter(F.col("__dup_n") > 1)
                        .select(F.col(col).alias("__dup_key")),
                        f"SparkValidator.dup_keys.{g.name}",
                    )
                    self._persisted.append(dup_keys)
                    use_broadcast = dup_keys.count() <= self.broadcast_dup_limit
                    strategy = "direct"
            self.unique_join_plan[g.name] = "broadcast" if use_broadcast else "shuffle"
            if strategy == "hash_prefilter":
                # stage 1: duplicate HASHES — the shuffle carries 8 bytes/row
                dup_hashes = (
                    nn.groupBy(F.xxhash64(col).alias("__kh"))
                    .agg(F.count(F.lit(1)).alias("__dup_n"))
                    .filter(F.col("__dup_n") > 1)
                    .select("__kh")
                )
                # stage 2: exact verify only candidate rows (collisions drop)
                cand = nn.join(
                    F.broadcast(dup_hashes),
                    F.xxhash64(nn[col]) == F.col("__kh"),
                    "left_semi",
                )
                dup_keys = (
                    cand.groupBy(col)
                    .agg(F.count(F.lit(1)).alias("__dup_n"))
                    .filter(F.col("__dup_n") > 1)
                    .select(F.col(col).alias("__dup_key"))
                )
            elif dup_keys is None:
                dup_keys = (
                    nn.groupBy(col)
                    .agg(F.count(F.lit(1)).alias("__dup_n"))
                    .filter(F.col("__dup_n") > 1)
                    .select(F.col(col).alias("__dup_key"))
                )
            annotated = annotated.join(
                F.broadcast(dup_keys) if use_broadcast else dup_keys,
                on=annotated[col] == F.col("__dup_key"),
                how="left",
            ).withColumn(
                FLAG_PREFIX + g.name, F.col("__dup_key").isNull()
            ).drop("__dup_key")
            names.append(CompiledCheck(g.name, col, F.col(FLAG_PREFIX + g.name), "unique"))

        # referential (C6 vs dimension): inline key test for small
        # dimensions, else broadcast left join on distinct keys. A NULL fk
        # passes either way (nullability is its own check).
        fields = {f.name: f.dataType for f in df.schema.fields}
        for col in self.ref_checks:
            name = f"{col}__referential"
            inline = self._inline_keys(col)
            if inline is not None and _inline_comparable(fields.get(col), inline[1]):
                annotated = annotated.withColumn(
                    FLAG_PREFIX + name,
                    F.col(col).isNull() | F.coalesce(inline[0], F.lit(False)),
                )
                self.referential_plan[name] = "inline"
            else:
                dim_df, dim_col = self._dimension(col)
                keys = dim_df.select(F.col(dim_col).alias("__ref_key")).distinct()
                annotated = annotated.join(
                    F.broadcast(keys),
                    on=annotated[col] == F.col("__ref_key"),
                    how="left",
                ).withColumn(
                    FLAG_PREFIX + name,
                    F.col(col).isNull() | F.col("__ref_key").isNotNull(),
                ).drop("__ref_key")
                self.referential_plan[name] = "broadcast"
            names.append(CompiledCheck(name, col, F.col(FLAG_PREFIX + name), "referential"))

        row_ok, _aggs = self._flag_columns(tuple(c.name for c in names))
        annotated = annotated.withColumn(_ROW_OK, row_ok)
        return annotated, names, compiled.missing

    # ------------------------------------------------------------------ #
    def validate(self, df: DataFrame) -> ValidationResult:
        t0 = time.time()
        schema_errors = [
            f"column {m!r} missing from input" for m in self._compiled(df.columns).missing
        ]
        schema_errors += dtype_errors(self.schema, df)
        if self.schema.strict:
            extra = set(df.columns) - set(self.schema.columns)
            schema_errors += [f"unexpected column {c!r} (strict mode)" for c in sorted(extra)]

        annotated, checks, _missing = self.annotate(df)
        flag_names = [c.name for c in checks]

        pid = F.col(self.partition_by) if self.partition_by else F.col(_PID)
        # ONE aggregation job: per-partition totals + per-check fail counts.
        _row_ok, aggs = self._flag_columns(tuple(flag_names))
        wide = annotated.groupBy(pid.alias("partition_id")).agg(*aggs)
        # long-format verdict DataFrame for downstream use / persistence
        if flag_names:
            stack_expr = ", ".join(f"'{n}', `{n}`" for n in flag_names)
            verdicts = wide.selectExpr(
                "partition_id",
                "n_rows",
                "n_invalid_rows",
                f"stack({len(flag_names)}, {stack_expr}) as (check, n_failed)",
            )
        else:
            verdicts = wide.selectExpr(
                "partition_id", "n_rows", "n_invalid_rows",
                "CAST(NULL AS STRING) as check", "CAST(0 AS LONG) as n_failed",
            )

        rows = wide.collect()
        n_rows = sum(r["n_rows"] for r in rows)
        n_invalid = sum(r["n_invalid_rows"] for r in rows)
        by_check = {n: sum(r[n] for r in rows) for n in flag_names}

        samples: dict[str, tuple] = {}
        if self.collect_samples and self.key_columns:
            # ONE job for every failed check's samples: a union of per-check
            # limited branches. Every branch selects the same UNIFIED column
            # set (key columns + every failed check's column — they all come
            # from the one `annotated` frame), so the union has one native
            # schema and sample values keep their Spark types (timestamps,
            # Decimals, binary — a JSON round-trip here stringified them,
            # round-5 review finding); each check's samples are then pruned
            # back to its own relevant columns. The round-4 shape looped per
            # check — up to 20 separate job launches per failing validation.
            failed = [c for c in checks if by_check.get(c.name)][:20]
            if failed:
                unified = list(
                    dict.fromkeys(
                        list(self.key_columns)
                        + [c.column for c in failed if c.column]
                    )
                )
                branches = [
                    annotated.filter(~F.col(FLAG_PREFIX + c.name))
                    .select(F.lit(c.name).alias("__chk"), *unified)
                    .limit(self.max_samples)
                    for c in failed
                ]
                grouped: dict[str, list] = {}
                for r in reduce(DataFrame.unionAll, branches).collect():
                    d = r.asDict()
                    grouped.setdefault(d.pop("__chk"), []).append(d)
                for c in failed:
                    cols = dict.fromkeys(
                        list(self.key_columns) + ([c.column] if c.column else [])
                    )
                    # NOTE: must not rebind `rows` — it still holds the
                    # per-partition verdict rows used for n_partitions below
                    sample_rows = grouped.get(c.name, ())
                    if sample_rows:
                        samples[c.name] = tuple(
                            {k: sr[k] for k in cols} for sr in sample_rows
                        )

        results = tuple(
            CheckResult(
                name=c.name,
                column=c.column,
                check=c.check,
                n_failed=int(by_check.get(c.name, 0)),
                n_checked=int(n_rows),
                samples=samples.get(c.name, ()),
            )
            for c in checks
        )
        report = ValidationReport(
            is_valid=not schema_errors and all(r.passed for r in results),
            checks=results,
            errors=tuple(schema_errors),
            warnings=tuple(self.warnings),
            n_rows=int(n_rows),
            n_invalid_rows=int(n_invalid),
            metadata={
                "engine": "pandera_unified_validator_spark",
                "elapsed_sec": round(time.time() - t0, 3),
                "n_partitions": len(rows),
                **(
                    {"unique_join_plan": dict(self.unique_join_plan)}
                    if self.unique_join_plan
                    else {}
                ),
                **(
                    {"referential_plan": dict(self.referential_plan)}
                    if self.referential_plan
                    else {}
                ),
            },
        )
        result = ValidationResult(
            report=report,
            flags=annotated,
            checks=tuple(flag_names),
            verdicts=verdicts,
            key_columns=self.key_columns,
        )
        if self.fail_fast and not report.is_valid:
            raise ValidationFailedError(report)
        return result

    def check_counts(self, df: DataFrame) -> DataFrame:
        """Lazy check-failure totals as a DataFrame (check, n_failed,
        n_checked) — the uncollected core of ``validate`` for composing into
        larger plans / SQL-oracle comparison.

        Round 7: unique checks are counted DIRECTLY off the dup-key
        aggregate (``Σ count(key) WHERE count > 1``) instead of riding the
        per-row join-back flags — count-only validation never needs a flag
        per row, so the dup-key set is never materialized, nothing is
        persisted or counted eagerly, and the input is scanned once per
        unique column (column-pruned) instead of twice. Streaming inputs
        keep the annotate path (which skips unique LOUDLY)."""
        skip_unique = not df.isStreaming
        annotated, checks, _ = self.annotate(df, _skip_unique=skip_unique)
        flag_names = [c.name for c in checks]
        uniq = []
        if skip_unique:
            uniq = [
                g
                for g in self._compiled(df.columns).global_checks
                if g.check == "unique" and g.column in df.columns
            ]
        if not flag_names and not uniq:
            # checkless schema: empty result with the stable contract schema
            # (a bare stack(0,) would be malformed SQL)
            return df.sparkSession.createDataFrame(
                [], "check string, n_failed long, n_checked long"
            )
        parts: list[DataFrame] = []
        if flag_names:
            aggs = [F.count(F.lit(1)).alias("__n")] + [
                F.sum((~F.col(FLAG_PREFIX + n)).cast("long")).alias(n)
                for n in flag_names
            ]
            wide = annotated.agg(*aggs)
            stack_expr = ", ".join(f"'{n}', `{n}`" for n in flag_names)
            parts.append(
                wide.selectExpr(
                    f"stack({len(flag_names)}, {stack_expr}) as (check, n_failed)",
                    "__n as n_checked",
                ).select("check", "n_failed", "n_checked")
            )
        if uniq:
            total = df.agg(F.count(F.lit(1)).alias("n_checked"))
            for g in uniq:
                dup_sum = (
                    df.filter(F.col(g.column).isNotNull())
                    .groupBy(g.column)
                    .agg(F.count(F.lit(1)).alias("__c"))
                    .filter(F.col("__c") > 1)
                    .agg(
                        F.coalesce(F.sum("__c"), F.lit(0))
                        .cast("long")
                        .alias("n_failed")
                    )
                )
                parts.append(
                    dup_sum.crossJoin(total).select(
                        F.lit(g.name).alias("check"), "n_failed", "n_checked"
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    # convenience: the reference's filter_invalid_rows split (P5)
    def validate_and_split(self, df: DataFrame) -> tuple[DataFrame, DataFrame, ValidationReport]:
        res = self.validate(df)
        return res.valid_rows(), res.invalid_rows(), res.report
