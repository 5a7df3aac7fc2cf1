"""Partition-group validation loop with checkpoint/resume and early stop.

Re-expresses the reference's chunked streaming validator (P1-P4,
``core/streaming.py:379-436``: per-chunk validate → metrics update → progress
callback → early termination at ``error_rate > threshold``) for Spark's
execution model (SURVEY.md §3.2, §7.4.3): a *chunk* becomes a **group of
input files/partitions** validated as one Spark job; the driver loop decides
between groups, because a running Spark job cannot be cheaply aborted
mid-stage. Semantics: at least as much data is validated as the reference
would have before stopping.

Resume (north rule "resumable from a checkpointed per-partition lineage +
metrics log"): each finished group writes one JSON lineage record (metrics +
file list + verdict) into the checkpoint directory via write-temp + atomic
rename — the same idea as an Iceberg metadata table, without needing a
catalog (SURVEY.md §7.4.7). On restart, finished groups are skipped; only
unfinished work re-runs.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validator import SparkValidator
from ..utils.reporting import ValidationMetrics, ValidationReport

__all__ = ["GroupResult", "StreamingResult", "PartitionedValidationRunner"]

_LOG = logging.getLogger(__name__)


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
    merges only the groups validated in this call (None when all resumed).
    """

    metrics: ValidationMetrics
    groups: list[GroupResult] = field(default_factory=list)
    report: ValidationReport | None = None

    @property
    def is_valid(self) -> bool:
        return self.metrics.invalid_rows == 0 and not self.metrics.early_terminated


class PartitionedValidationRunner:
    """Validate a file-backed table group-by-group with resume + early stop.

    Parameters mirror the reference's StreamingValidator knobs
    (``core/streaming.py:120-124``): ``error_threshold`` (default 0.05),
    ``files_per_group`` replaces chunk_size, ``progress_callback`` fires per
    group with (group_index, n_groups, metrics).

    One validator serves every group, so what it resolves once (the compiled
    schema, small referential dimensions) is shared by the whole run; group
    reads use the table's schema (see ``run``).

    Each group is validated on its own, so a ``unique=True`` column is
    checked within each group only: a key repeated in two groups is not
    flagged. A call with more than one group and such a column logs a
    warning saying so.
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
        import hashlib

        basis = self.validator.schema.to_json() + "|" + ",".join(
            sorted(self.validator.ref_checks)
        )
        return hashlib.sha256(basis.encode()).hexdigest()[:16]

    def _lineage_path(self, group_id: int) -> str:
        return os.path.join(self.checkpoint_dir, f"group-{group_id:06d}.json")

    def _load_lineage(self, group_id: int, files: Sequence[str]) -> GroupResult | None:
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
        return GroupResult(
            group_id=group_id,
            files=tuple(d["files"]),
            n_rows=d["n_rows"],
            n_invalid_rows=d["n_invalid_rows"],
            check_fails=d["check_fails"],
            elapsed_sec=d["elapsed_sec"],
            resumed=True,
        )

    def _write_lineage(self, res: GroupResult) -> None:
        if not self.checkpoint_dir:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        p = self._lineage_path(res.group_id)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({**res.to_dict(), "schema_fp": self._schema_fingerprint()}, f)
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
    def _run_units(
        self,
        units: Sequence[tuple[tuple[str, ...] | None, Callable[[], DataFrame]]],
    ) -> StreamingResult:
        """The one group loop: each unit = (lineage marker, lazy loader).
        Finished markers resume from checkpoint; a ``None`` marker has no
        lineage (nothing loaded or written, ``GroupResult.files == ()``).
        The breaker stops scheduling further units once the error rate trips
        (reference core/streaming.py:424-426)."""
        unique_cols = [c.name for c in self.validator.schema.columns.values() if c.unique]
        if unique_cols and len(units) > 1:
            _LOG.warning(
                "unique on %s is checked within each of %d groups only: a key "
                "repeated in two groups is not flagged",
                ", ".join(unique_cols),
                len(units),
            )
        metrics = ValidationMetrics()
        out = StreamingResult(metrics=metrics)
        t_start = time.time()
        report: ValidationReport | None = None
        for gi, (markers, loader) in enumerate(units):
            cached = None if markers is None else self._load_lineage(gi, markers)
            if cached is not None:
                metrics.update(
                    cached.n_rows - cached.n_invalid_rows,
                    cached.n_invalid_rows,
                    cached.check_fails,
                )
                out.groups.append(cached)
            else:
                t0 = time.time()
                res = self.validator.validate(loader())
                gr = GroupResult(
                    group_id=gi,
                    files=tuple(markers or ()),
                    n_rows=res.report.n_rows,
                    n_invalid_rows=res.report.n_invalid_rows,
                    check_fails={
                        c.name: c.n_failed for c in res.report.checks if c.n_failed
                    },
                    elapsed_sec=round(time.time() - t0, 3),
                )
                if markers is not None:
                    self._write_lineage(gr)
                metrics.update(
                    gr.n_rows - gr.n_invalid_rows, gr.n_invalid_rows, gr.check_fails
                )
                out.groups.append(gr)
                report = res.report if report is None else report.merge(res.report)
            if self.progress_callback:
                self.progress_callback(gi + 1, len(units), metrics)
            if (
                self.error_threshold is not None
                and metrics.total_rows > 0
                and metrics.error_rate > self.error_threshold
            ):
                metrics.early_terminated = True
                break
        metrics.elapsed_sec = round(time.time() - t_start, 3)
        out.report = report
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
        every group is read with it: no group runs its own schema-inference
        job, and each group's verdicts are computed against the same column
        types whatever ``files_per_group`` is. A local directory path is also
        each group's ``basePath``, so partition columns discovered from the
        directory layout (``.../source=web/...``) are read the same way in
        every group."""
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
        units = [(tuple(g), lambda g=g: reader.load(g)) for g in groups]
        return self._run_units(units)

    def run_iceberg(
        self,
        spark: SparkSession,
        table: str,
        *,
        partition_col: str,
        snapshot_id: int | None = None,
        partitions: Sequence[Any] | None = None,
        read_fn: Callable[..., DataFrame] | None = None,
        resolve_snapshot_fn: Callable[[SparkSession, str], int] | None = None,
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
        catalog that list comes from metadata, not a scan). Each group's
        filter is partition-pruned by Iceberg at scan time, so a group job
        reads only its partition's files. ``read_fn`` defaults to
        ``sources.iceberg.read_iceberg`` and is injectable for catalogs the
        test environment lacks; ``resolve_snapshot_fn`` likewise defaults to
        ``sources.iceberg.current_snapshot_id``.

        ``snapshot_id=None`` is resolved to the table's CURRENT snapshot up
        front and the resolved value is embedded in both the read and every
        lineage marker — stamping markers with the symbolic "latest"
        (round 4 wrote ``@None``) would let a resume skip partitions even
        though the unpinned table had moved between runs, breaking the
        exactly-once-vs-moving-table guarantee this loop exists for."""
        if read_fn is None:
            from ..sources.iceberg import read_iceberg as read_fn  # type: ignore[no-redef]
        if snapshot_id is None:
            if resolve_snapshot_fn is None:
                from ..sources.iceberg import (  # type: ignore[no-redef]
                    current_snapshot_id as resolve_snapshot_fn,
                )
            snapshot_id = int(resolve_snapshot_fn(spark, table))
        df = read_fn(spark, table, snapshot_id=snapshot_id)
        if partitions is None:
            partitions = [
                r[0]
                for r in df.select(partition_col).distinct().orderBy(partition_col).collect()
            ]
        units = [
            (
                (f"iceberg://{table}@{snapshot_id}#{partition_col}={pv}",),
                lambda pv=pv: df.filter(F.col(partition_col) == F.lit(pv)),
            )
            for pv in partitions
        ]
        return self._run_units(units)

    def run_dataframe_groups(
        self, spark: SparkSession, dfs: Sequence[DataFrame]
    ) -> StreamingResult:
        """Validate pre-split DataFrames (micro-batches, S4 analogue) through
        the group loop. A DataFrame has no stable identity to resume by, so
        no lineage is read or written: every call validates every batch."""
        return self._run_units([(None, lambda df=df: df) for df in dfs])
