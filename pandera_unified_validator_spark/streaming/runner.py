"""Partition-group validation loop with checkpoint/resume and early stop.

Re-expresses the reference's chunked streaming validator (P1-P4,
``core/streaming.py:379-436``: per-chunk validate → metrics update → progress
callback → early termination at ``error_rate > threshold``) for Spark's
execution model (SURVEY.md §3.2, §7.4.3): a *chunk* becomes a **group of
input files/partitions**. Up to ``_WAVE_GROUPS`` unfinished groups are read
and validated together as one *wave*; the driver folds the wave's groups
into the metrics one by one and decides between them, because a running
Spark job cannot be cheaply aborted mid-stage. Semantics: at least as much
data is validated as the reference would have before stopping.

Resume (north rule "resumable from a checkpointed per-partition lineage +
metrics log"): each finished group writes one JSON lineage record (metrics +
file list + verdict) into the checkpoint directory via write-temp + atomic
rename — the same idea as an Iceberg metadata table, without needing a
catalog (SURVEY.md §7.4.7). On restart, finished groups are skipped; only
unfinished work re-runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Any, Callable, Mapping, Sequence
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validator import SparkValidator
from ..utils.cache import registry as _cache
from ..utils.reporting import ValidationMetrics, ValidationReport

__all__ = ["GroupResult", "StreamingResult", "PartitionedValidationRunner"]

# the most unfinished groups one read and one ``validate`` cover. Larger
# waves spread more per-wave cost (4 cores, 32 groups of 2,000 rows: 14.7k
# rows/s at 8, 18.9k at 16, 22.4k at 32), but a killed wave loses all its
# groups and early stop can act a whole wave late; 8 bounds both.
_WAVE_GROUPS = 8
# the column that carries each wave row's group index into ``validate``
_GROUP = "__puv_group"


def _unique_scope(markers: Sequence[tuple[str, ...] | None]) -> str:
    """The ``unique_scope`` of a call's lineage records: a hash of every
    group's marker. A group's ``unique`` counts depend on the rows of every
    group of the call, so they hold only for a call over the same groups."""
    basis = json.dumps([list(m or ()) for m in markers])
    return hashlib.sha256(basis.encode()).hexdigest()[:16]


def _isin(key: Column, values: Sequence[Any]) -> Column:
    """``key IN (values)``, null-safe: a NULL key is in ``values`` when
    ``None`` is (``IN`` alone matches no NULL key)."""
    test = key.isin([v for v in values if v is not None])
    return key.isNull() | test if None in values else test


def _group_of(key: Column, groups: Mapping[int, Sequence[Any]]) -> Column:
    """The index of the group whose values hold ``key``, NULL when none
    does. Each group is one ``IN`` test, a hash-set probe past 10 values,
    so a row costs one probe per group. A literal map compares the key with
    every file name of the wave: over 512 files it added 3 s to a 4 s,
    4M-row scan on 4 cores."""
    first, *rest = groups.items()
    return reduce(
        lambda acc, kv: acc.when(_isin(key, kv[1]), kv[0]),
        rest,
        F.when(_isin(key, first[1]), first[0]),
    )


@dataclass
class GroupResult:
    group_id: int
    files: tuple[str, ...]
    n_rows: int
    n_invalid_rows: int
    check_fails: dict[str, int]
    elapsed_sec: float
    resumed: bool = False  # True when loaded from checkpoint, not re-run

    def to_dict(self) -> dict:
        return {
            "group_id": self.group_id,
            "files": list(self.files),
            "n_rows": self.n_rows,
            "n_invalid_rows": self.n_invalid_rows,
            "check_fails": self.check_fails,
            "elapsed_sec": self.elapsed_sec,
        }


@dataclass
class StreamingResult:
    """Reference ``StreamingResult`` analogue (core/streaming.py:430-436).

    ``metrics`` and ``groups`` cover every group, resumed or not; ``report``
    covers only the groups validated in this call (None when all resumed).
    """

    metrics: ValidationMetrics
    groups: list[GroupResult] = field(default_factory=list)
    report: ValidationReport | None = None

    @property
    def is_valid(self) -> bool:
        return self.metrics.invalid_rows == 0 and not self.metrics.early_terminated


def _call_report(
    waves: Sequence[ValidationReport], done: Sequence[GroupResult]
) -> ValidationReport | None:
    """The report of the groups ``done`` in this call, from the reports of
    its ``waves`` (None when no wave ran): each check's counts are summed
    from the groups, its samples are those of the groups, and the schema
    errors and warnings are the last wave's."""
    if not waves:
        return None
    ids = {g.group_id for g in done}
    samples = [(c.name, s) for w in waves for c in w.checks for s in c.samples if s[_GROUP] in ids]
    n_rows = sum(g.n_rows for g in done)
    checks = tuple(
        replace(
            chk,
            n_failed=sum(g.check_fails.get(chk.name, 0) for g in done),
            n_checked=n_rows,
            samples=tuple(
                {k: v for k, v in s.items() if k != _GROUP}
                for name, s in samples
                if name == chk.name
            ),
        )
        for chk in waves[-1].checks
    )
    return replace(
        waves[-1],
        is_valid=not waves[-1].errors and all(chk.passed for chk in checks),
        checks=checks,
        n_rows=n_rows,
        n_invalid_rows=sum(g.n_invalid_rows for g in done),
    )


class PartitionedValidationRunner:
    """Validate a file-backed table group-by-group with resume + early stop.

    Parameters mirror the reference's StreamingValidator knobs
    (``core/streaming.py:120-124``): ``error_threshold`` (default 0.05),
    ``files_per_group`` replaces chunk_size, ``progress_callback`` fires per
    group with (group_index, n_groups, metrics).

    The unfinished groups are validated in waves of at most
    ``_WAVE_GROUPS`` (8) consecutive groups: each wave is one read and one
    ``validate``, counted per group. The groups are then folded into the
    metrics in order, each with its lineage record, callback and breaker
    check, so early stop skips every later wave and reports no group after
    the one that tripped it; it acts at most one wave late, since the rest
    of that wave was already validated. A killed wave loses all its groups.

    A ``unique=True`` column is checked over every group of the call,
    resumed or not: the call counts its dup-key set once, over all of them,
    and every wave joins it back, so a call scans the key columns once, a
    key repeated in two groups is flagged in both, and a resumed run
    rescans only the key columns. A call of two or more waves caches the
    set and releases it when it returns. Each lineage record stores a hash
    of the call's groups (``unique_scope``); with a ``unique`` column, a
    record resumes only in a call over the same groups, so a file added to
    ``path`` validates every group again.

    A group's ``elapsed_sec`` is its row share of its wave's wall time, so
    the groups' times still add up to the time spent validating. The
    call's ``report`` is built once, when it returns, from the groups it
    validated: their check counts, the failing samples (``collect_samples``,
    drawn from each wave, at most ``max_samples`` per check) of their rows,
    and the last wave's schema errors and warnings, each listed once.
    A ``fail_fast`` validator raises on a wave holding an invalid group
    before any group of that wave writes its lineage record.

    One validator serves every wave, so what it resolves once (the compiled
    schema, small referential dimensions) is shared by the whole run; group
    reads use the table's schema (see ``run``).
    """

    def __init__(
        self,
        validator: SparkValidator,
        *,
        checkpoint_dir: str | None = None,
        error_threshold: float | None = 0.05,
        files_per_group: int = 8,
        progress_callback: Callable[[int, int, ValidationMetrics], None] | None = None,
    ) -> None:
        if files_per_group < 1:
            raise ValueError(f"files_per_group must be >= 1, got {files_per_group}")
        self.validator = validator
        self.checkpoint_dir = checkpoint_dir
        self.error_threshold = error_threshold
        self.files_per_group = files_per_group
        self.progress_callback = progress_callback

    # ----------------------------------------------------------- lineage --
    def _schema_fingerprint(self) -> str:
        """Content hash of the validation contract: the schema JSON plus the
        referential-dimension column names. A lineage record from a
        DIFFERENT contract must not satisfy resume — silently reusing
        verdicts computed under an old schema would report stale results as
        current (the input-files check alone cannot catch it)."""
        basis = self.validator.schema.to_json() + "|" + ",".join(
            sorted(self.validator.ref_checks)
        )
        return hashlib.sha256(basis.encode()).hexdigest()[:16]

    def _lineage_path(self, group_id: int) -> str:
        return os.path.join(self.checkpoint_dir, f"group-{group_id:06d}.json")

    def _load_lineage(
        self, group_id: int, files: Sequence[str], scope: str
    ) -> GroupResult | None:
        if not self.checkpoint_dir:
            return None
        p = self._lineage_path(group_id)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None  # torn/corrupt record → re-validate the group
        if d.get("files") != list(files):
            return None  # input changed under the checkpoint → re-validate
        if d.get("schema_fp") != self._schema_fingerprint():
            return None  # schema changed (or pre-fingerprint record) → re-validate
        if d.get("unique_scope") != scope and self._unique_columns():
            return None  # unique was counted over other groups → re-validate
        return GroupResult(
            group_id=group_id,
            files=tuple(d["files"]),
            n_rows=d["n_rows"],
            n_invalid_rows=d["n_invalid_rows"],
            check_fails=d["check_fails"],
            elapsed_sec=d["elapsed_sec"],
            resumed=True,
        )

    def _write_lineage(self, res: GroupResult, scope: str) -> None:
        if not self.checkpoint_dir:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        p = self._lineage_path(res.group_id)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    **res.to_dict(),
                    "schema_fp": self._schema_fingerprint(),
                    "unique_scope": scope,
                },
                f,
            )
        os.replace(tmp, p)  # atomic on POSIX — a killed job never leaves a torn record

    def lineage_df(self, spark: SparkSession):
        """The per-partition lineage + metrics log as a queryable DataFrame —
        the monitoring surface of the north rule's per-partition "metrics
        log (Iceberg metadata table)": which groups finished, row/violation
        totals, per-check fail counts, and wall time, straight off the
        atomic checkpoint records (so an operator can watch a running or
        killed job with plain SQL). Missing/empty checkpoint dir → empty
        DataFrame with the same schema."""
        from pyspark.sql import types as T

        sch = T.StructType(
            [
                T.StructField("group_id", T.IntegerType()),
                T.StructField("files", T.ArrayType(T.StringType())),
                T.StructField("n_rows", T.LongType()),
                T.StructField("n_invalid_rows", T.LongType()),
                T.StructField("check_fails", T.MapType(T.StringType(), T.LongType())),
                T.StructField("elapsed_sec", T.DoubleType()),
            ]
        )
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return spark.createDataFrame([], sch)
        pattern = os.path.join(self.checkpoint_dir, "group-*.json")
        import glob

        if not glob.glob(pattern):
            return spark.createDataFrame([], sch)
        return spark.read.schema(sch).json(pattern)

    # --------------------------------------------------------------- run --
    def _unique_columns(self) -> list[str]:
        return [c.name for c in self.validator.schema.columns.values() if c.unique]

    def _unique_over(self, df: DataFrame) -> DataFrame | None:
        """``df``'s ``unique`` columns, or None when it has none."""
        cols = [c for c in self._unique_columns() if c in df.columns]
        return df.select(*cols) if cols else None

    def _validate_wave(
        self,
        gids: Sequence[int],
        markers: Sequence[tuple[str, ...] | None],
        load_wave: Callable[[Sequence[int]], DataFrame],
        dup_keys: Mapping[str, tuple[DataFrame, bool]],
    ) -> tuple[ValidationReport, list[GroupResult]]:
        """Validate groups ``gids`` with one read and one ``validate``: the
        wave's report, and each group's result from its row of the verdict
        aggregate."""
        t0 = time.time()
        res = self.validator.validate(load_wave(gids), _dup_keys=dup_keys, _group=_GROUP)
        wave_s = time.time() - t0
        wave = res.report
        by_group = {c["partition_id"]: c for c in res.partition_counts}
        counts = [by_group.get(gi, {}) for gi in gids]
        rows = [c.get("n_rows", 0) for c in counts]
        if sum(rows) != wave.n_rows:
            raise RuntimeError(
                f"{wave.n_rows - sum(rows)} of {wave.n_rows} rows of groups "
                f"{list(gids)} carry no group index"
            )
        return wave, [
            GroupResult(
                group_id=gi,
                files=tuple(markers[gi] or ()),
                n_rows=n,
                n_invalid_rows=c.get("n_invalid_rows", 0),
                check_fails={chk.name: c[chk.name] for chk in wave.checks if c.get(chk.name)},
                elapsed_sec=round(wave_s * (n / wave.n_rows if wave.n_rows else 1 / len(gids)), 3),
            )
            for gi, c, n in zip(gids, counts, rows)
        ]

    def _run_units(
        self,
        markers: Sequence[tuple[str, ...] | None],
        load_wave: Callable[[Sequence[int]], DataFrame],
        unique_over: DataFrame | None,
    ) -> StreamingResult:
        """The one group loop. ``markers[gi]`` is group gi's lineage marker
        (``None``: no lineage is loaded or written, ``GroupResult.files ==
        ()``); ``load_wave(gids)`` reads groups ``gids`` as one DataFrame
        whose ``_GROUP`` column holds each row's group index; ``unique_over``
        holds the ``unique`` columns of every group. Finished markers resume
        from checkpoint. The breaker stops folding groups once the error
        rate trips (reference core/streaming.py:424-426)."""
        scope = _unique_scope(markers)
        groups: list[GroupResult | None] = [
            None if m is None else self._load_lineage(gi, m, scope)
            for gi, m in enumerate(markers)
        ]
        pending = [gi for gi, g in enumerate(groups) if g is None]
        waves = {
            pending[i]: pending[i : i + _WAVE_GROUPS]
            for i in range(0, len(pending), _WAVE_GROUPS)
        }
        metrics = ValidationMetrics()
        out = StreamingResult(metrics=metrics)
        t_start = time.time()
        reports: list[ValidationReport] = []
        dup_keys = {}
        try:
            if waves and unique_over is not None:
                dup_keys = self.validator._dup_key_sets(unique_over, keep=len(waves) > 1)
            for gi, marker in enumerate(markers):
                if gi in waves:
                    report, results = self._validate_wave(waves[gi], markers, load_wave, dup_keys)
                    reports.append(report)
                    for gr in results:
                        groups[gr.group_id] = gr
                gr = groups[gi]
                if not gr.resumed and marker is not None:
                    self._write_lineage(gr, scope)
                metrics.update(gr.n_rows - gr.n_invalid_rows, gr.n_invalid_rows, gr.check_fails)
                out.groups.append(gr)
                if self.progress_callback:
                    self.progress_callback(gi + 1, len(markers), metrics)
                if (
                    self.error_threshold is not None
                    and metrics.total_rows > 0
                    and metrics.error_rate > self.error_threshold
                ):
                    metrics.early_terminated = True
                    break
        finally:
            for keys, _ in dup_keys.values():
                _cache.release(keys)
        metrics.elapsed_sec = round(time.time() - t_start, 3)
        out.report = _call_report(reports, [g for g in out.groups if not g.resumed])
        return out

    def run(
        self,
        spark: SparkSession,
        path: str,
        fmt: str = "parquet",
        **reader_options,
    ) -> StreamingResult:
        """Validate ``path`` (file/dir/glob) group-by-group.

        The table's schema is resolved once, from the whole ``path``, and
        every wave is read with it: no wave runs its own schema-inference
        job, and each group's verdicts are computed against the same column
        types whatever ``files_per_group`` is. A local directory path is also
        each wave's ``basePath``, so partition columns discovered from the
        directory layout (``.../source=web/...``) are read the same way in
        every group. A row's group is looked up from ``input_file_name()``,
        which names a file as ``inputFiles()`` does."""
        base = spark.read.format(fmt).options(**reader_options).load(path)
        files = sorted(base.inputFiles())
        if not files:
            return self.run_dataframe_groups(spark, [base])
        group_options = dict(reader_options)
        if os.path.isdir(path):
            group_options.setdefault("basePath", path)
        reader = spark.read.format(fmt).schema(base.schema).options(**group_options)
        groups = [
            files[i : i + self.files_per_group]
            for i in range(0, len(files), self.files_per_group)
        ]

        def load_wave(gids: Sequence[int]) -> DataFrame:
            # inputFiles() and input_file_name() name files as URIs; load()
            # takes paths
            wave = {gi: groups[gi] for gi in gids}
            return reader.load([unquote(f) for gi in gids for f in groups[gi]]).withColumn(
                _GROUP, _group_of(F.input_file_name(), wave)
            )

        return self._run_units([tuple(g) for g in groups], load_wave, self._unique_over(base))

    def run_iceberg(
        self,
        spark: SparkSession,
        table: str,
        *,
        partition_col: str,
        snapshot_id: int | None = None,
        partitions: Sequence[Any] | None = None,
    ) -> StreamingResult:
        """Partition-group validation over an Iceberg table PINNED at a
        snapshot — the north rule's resumable loop against a moving table.

        A *group* is one partition value of ``partition_col``; its lineage
        marker is ``iceberg://{table}@{snapshot}#{col}={value}``, so resume
        skips partitions already validated **at the same snapshot** and a
        different ``snapshot_id`` (data appended since) re-validates — the
        snapshot pin is what makes resume exactly-once while the table moves
        (sources/iceberg.py module docstring). ``partitions`` defaults to the
        distinct values at the pinned snapshot (one column-pruned job; pass
        the ``.partitions`` metadata table's values to skip it — on a real
        catalog that list comes from metadata, not a scan). A wave's filter
        is ``partition_col IN (its values)``, partition-pruned by Iceberg at
        scan time, so a wave job reads only its partitions' files; a NULL
        partition value matches the rows whose ``partition_col`` is NULL.

        ``snapshot_id=None`` is resolved to the table's CURRENT snapshot up
        front and the resolved value is embedded in both the read and every
        lineage marker — stamping markers with the symbolic "latest"
        (round 4 wrote ``@None``) would let a resume skip partitions even
        though the unpinned table had moved between runs, breaking the
        exactly-once-vs-moving-table guarantee this loop exists for."""
        from ..sources import iceberg

        if snapshot_id is None:
            snapshot_id = int(iceberg.current_snapshot_id(spark, table))
        df = iceberg.read_iceberg(spark, table, snapshot_id=snapshot_id)
        if partitions is None:
            partitions = [
                r[0]
                for r in df.select(partition_col).distinct().orderBy(partition_col).collect()
            ]
        col = F.col(partition_col)

        def load_wave(gids: Sequence[int]) -> DataFrame:
            tag = _group_of(col, {gi: [partitions[gi]] for gi in gids})
            return df.filter(_isin(col, [partitions[gi] for gi in gids])).withColumn(_GROUP, tag)

        markers = [(f"iceberg://{table}@{snapshot_id}#{partition_col}={pv}",) for pv in partitions]
        unique_over = self._unique_over(df.filter(_isin(col, partitions)))
        return self._run_units(markers, load_wave, unique_over)

    def run_dataframe_groups(
        self, spark: SparkSession, dfs: Sequence[DataFrame]
    ) -> StreamingResult:
        """Validate pre-split DataFrames (micro-batches, S4 analogue) through
        the group loop; a wave is the union by column name of its batches,
        so the batches share one schema. A DataFrame has no stable identity
        to resume by, so no lineage is read or written: every call validates
        every batch."""

        def load_wave(gids: Sequence[int]) -> DataFrame:
            tagged = [dfs[gi].withColumn(_GROUP, F.lit(gi)) for gi in gids]
            return reduce(DataFrame.unionByName, tagged)

        unique_over = self._unique_over(reduce(DataFrame.unionByName, dfs)) if dfs else None
        return self._run_units([None] * len(dfs), load_wave, unique_over)
