"""Distributed data profiler — SURVEY.md §2.5 (A1-A15) re-expressed as Spark.

The reference computes each statistic as a separate pandas pass per column
(``profiling/profiler.py:257-293``); here every scalar statistic for every
column folds into ONE ``df.agg(...)`` job (map-side partial aggregation, one
tiny shuffle), quantiles use Spark's Greenwald-Khanna sketch
(``approxQuantile`` — the GK requirement of the north star), distinct counts
use HLL++ (``approx_count_distinct``), and histograms for ALL numeric columns
compute in one additional job via unpivot → bucket → groupBy.

Exactness policy (SURVEY.md §7.4.4): the reference's quantiles/nunique are
exact; ours are sketch-approximate by default. ``exact=True`` switches to
exact ``percentile``/``count(distinct)`` for test-scale comparisons.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["ColumnProfile", "ProfileReport", "DataProfiler"]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
            T.DoubleType, T.DecimalType)

# candidate regexes for pattern inference (reference profiling/profiler.py:324-336)
_PATTERNS = (r"^\d+$", r"^[A-Za-z0-9_-]+$", r"^[A-Za-z\s]+$")


def _bin_width(lo: float, hi: float, bins: int) -> float:
    """Width of one of ``bins`` equal-width buckets over [lo, hi] — the one
    definition every histogram shares (``DataProfiler.profile``,
    ``drift.histogram_df``, ``drift.numeric_drift``). Guards the COMPUTED
    width, not hi > lo: a subnormal span (hi - lo = 5e-324) underflows to
    0.0 when divided by the bin count, and ANSI mode turns the bucket
    division into a job-killing DIVIDE_BY_ZERO (found by hypothesis). A
    degenerate span gets width 1.0, so every value lands in bucket 0."""
    width = (hi - lo) / bins
    return width if width > 0.0 else 1.0


@dataclass
class ColumnProfile:
    name: str
    dtype: str
    n: int = 0
    n_missing: int = 0
    mean: float | None = None
    median: float | None = None
    std: float | None = None            # population std (ddof=0), like reference
    min: Any = None
    max: Any = None
    q1: float | None = None
    q3: float | None = None
    n_distinct: int | None = None
    unique_ratio: float | None = None
    histogram: list[tuple[float, float, int]] = field(default_factory=list)
    categorical_values: list[Any] | None = None
    inferred_pattern: str | None = None
    suggestion: dict[str, Any] | None = None
    array_stats: dict[str, Any] | None = None  # for array<T> columns

    @property
    def missing_pct(self) -> float:
        return self.n_missing / self.n if self.n else 0.0

    def to_dict(self) -> dict[str, Any]:
        d = {k: v for k, v in self.__dict__.items()}
        d["missing_pct"] = self.missing_pct
        return d


@dataclass
class ProfileReport:
    """Reference ``ProfileReport`` analogue (profiling/profiler.py:112-136)."""

    n_rows: int
    columns: dict[str, ColumnProfile]
    duplicate_rows: int = 0
    correlations: dict[tuple[str, str], float] = field(default_factory=dict)
    quality: dict[str, float] = field(default_factory=dict)
    # external-backend dispatch (reference profiling/profiler.py:122-124)
    backend: str = "built-in"
    raw_backend_report: Any | None = None

    @property
    def quality_score(self) -> float:
        return self.quality.get("overall", 1.0)

    def suggested_schema(self):
        """A15 → a ValidationSchema (reference suggest_schema,
        profiling/profiler.py:202-204, 460-479)."""
        from ..plans.schema import ColumnSpec, ValidationSchema

        schema = ValidationSchema(metadata={"inferred": True})
        for p in self.columns.values():
            kw: dict[str, Any] = {}
            if p.suggestion:
                s = dict(p.suggestion)
                s.pop("confidence", None)
                kw.update(s)
            schema.add_column(ColumnSpec(name=p.name, dtype=p.dtype, **kw))
        return schema

    def to_dict(self) -> dict[str, Any]:
        return {
            "n_rows": self.n_rows,
            "duplicate_rows": self.duplicate_rows,
            "columns": {k: v.to_dict() for k, v in self.columns.items()},
            "correlations": {f"{a}|{b}": v for (a, b), v in self.correlations.items()},
            "quality": self.quality,
            "backend": self.backend,
        }


def numeric_summary(df: DataFrame, column: str, exact: bool = True, round_to: int = 4) -> DataFrame:
    """Lazy one-row stats DataFrame for one numeric column (A1-A6) — the
    uncollected building block of ``DataProfiler.profile``, usable inside
    larger plans and SQL-oracle comparisons. ``exact=True`` uses exact
    percentiles (test scale); False uses the GK sketch (cluster scale)."""
    c = F.col(column)
    if exact:
        q = F.expr(f"percentile(`{column}`, array(0.25, 0.5, 0.75))")
    else:
        q = F.expr(f"approx_percentile(`{column}`, array(0.25, 0.5, 0.75), 10000)")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c.isNull().cast("long")).alias("n_null"),
        F.round(F.mean(c), round_to).alias("mean"),
        F.round(F.stddev_pop(c), round_to).alias("std_pop"),
        F.round(F.min(c).cast("double"), round_to).alias("vmin"),
        F.round(F.max(c).cast("double"), round_to).alias("vmax"),
        F.round(q[0].cast("double"), round_to).alias("q1"),
        F.round(q[1].cast("double"), round_to).alias("median"),
        F.round(q[2].cast("double"), round_to).alias("q3"),
    )


def _dtype_label(t: T.DataType) -> str:
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.ArrayType):
        return f"array<{_dtype_label(t.elementType)}>"
    return t.simpleString()


class DataProfiler:
    """One-pass profiling over arbitrary DataFrames.

    Job count is independent of column count: 1 agg job (all scalar stats,
    all columns) + 1 approxQuantile job (all numeric columns at once) +
    1 histogram job (all numeric columns via unpivot) + 1 optional
    categorical-values job. The reference ran O(columns × stats) pandas
    passes (profiling/profiler.py:257-293).
    """

    SUPPORTED_BACKENDS = {"built-in", "pandas-profiling", "ydata-profiling", "sweetviz"}

    def __init__(
        self,
        histogram_bins: int = 10,
        categorical_threshold: int = 20,
        exact: bool = False,
        quantile_error: float = 0.01,
        correlations: bool = True,
        max_corr_columns: int = 8,
        backend: str = "built-in",
        backend_sample_rows: int = 100_000,
    ) -> None:
        """``backend`` dispatches to an external profiling library like the
        reference's DataProfiler (profiling/profiler.py:164-176, 248-255):
        ``"ydata-profiling"``/``"pandas-profiling"`` or ``"sweetviz"`` are
        soft-imported; when the library is missing the profile silently falls
        back to the built-in stats with ``report.backend == "built-in"`` —
        the reference's exact contract (it returns ``(None, "built-in")``,
        profiling/profiler.py:255). ``"builtin"`` is accepted as an alias.
        Those libraries are pandas-only, so the external pass runs on a
        driver-side sample capped at ``backend_sample_rows`` (the built-in
        distributed stats are ALWAYS computed over the full DataFrame; only
        the cosmetic external report samples)."""
        backend = backend.lower().replace("_", "-")
        if backend == "builtin":  # alias for the reference's spelling
            backend = "built-in"
        if backend not in self.SUPPORTED_BACKENDS:
            raise ValueError(
                f"Unsupported backend {backend!r}. Supported: {sorted(self.SUPPORTED_BACKENDS)}"
            )
        self.backend = backend
        self.backend_sample_rows = backend_sample_rows
        self.histogram_bins = histogram_bins
        self.categorical_threshold = categorical_threshold
        self.exact = exact
        self.quantile_error = quantile_error
        self.correlations = correlations
        self.max_corr_columns = max_corr_columns

    def _run_backend(self, df: DataFrame) -> tuple[Any | None, str]:
        """Soft-import external backend dispatch (reference
        profiling/profiler.py:248-255). Returns (raw_report, backend_used)."""
        if self.backend in ("pandas-profiling", "ydata-profiling"):
            try:
                import ydata_profiling  # type: ignore[import-not-found]
            except ImportError:
                return None, "built-in"
            pdf = df.limit(self.backend_sample_rows).toPandas()
            return ydata_profiling.ProfileReport(pdf, explorative=True), self.backend
        if self.backend == "sweetviz":
            try:
                import sweetviz  # type: ignore[import-not-found]
            except ImportError:
                return None, "built-in"
            pdf = df.limit(self.backend_sample_rows).toPandas()
            return sweetviz.analyze(pdf), self.backend
        return None, "built-in"

    # ------------------------------------------------------------------ #
    def profile(self, df: DataFrame, columns: Sequence[str] | None = None) -> ProfileReport:
        cols = list(columns) if columns else df.columns
        fields = {f.name: f.dataType for f in df.schema.fields if f.name in cols}
        numeric = [c for c in cols if isinstance(fields[c], _NUMERIC)]
        strings = [c for c in cols if isinstance(fields[c], T.StringType)]
        temporal = [
            c for c in cols
            if isinstance(fields[c], (T.TimestampType, T.TimestampNTZType, T.DateType))
        ]

        arrays = [c for c in cols if isinstance(fields[c], T.ArrayType)]

        aggs: list = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"miss__{c}"))  # A6
            if c in arrays:
                # arrays aren't directly distinct-countable cheaply: hash them
                h = F.xxhash64(F.col(c).cast("string"))
                agg_fn = F.countDistinct if self.exact else F.approx_count_distinct
                aggs.append(agg_fn(h).alias(f"dist__{c}"))
            elif self.exact:
                aggs.append(F.countDistinct(c).alias(f"dist__{c}"))                 # A10
            else:
                aggs.append(F.approx_count_distinct(c).alias(f"dist__{c}"))
        for c in arrays:
            # array-aware stats (token table: size ≈ n_tok, element = token id)
            sz = F.size(F.col(c))
            aggs += [
                F.min(sz).alias(f"szmin__{c}"),
                F.max(sz).alias(f"szmax__{c}"),
                F.mean(sz.cast("double")).alias(f"szmean__{c}"),
                F.sum(sz.cast("long")).alias(f"sztot__{c}"),
                F.min(F.array_min(F.col(c))).alias(f"emin__{c}"),
                F.max(F.array_max(F.col(c))).alias(f"emax__{c}"),
            ]
        for c in numeric:
            aggs += [
                F.mean(c).alias(f"mean__{c}"),            # A1
                F.stddev_pop(c).alias(f"std__{c}"),       # A3 (ddof=0 like reference)
                F.min(c).alias(f"min__{c}"),              # A4
                F.max(c).alias(f"max__{c}"),
            ]
        for c in temporal:
            aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
        for c in strings:
            # A9 pattern inference: all-non-null-match per candidate, one agg
            for i, pat in enumerate(_PATTERNS):
                aggs.append(
                    F.min(
                        F.when(F.col(c).isNull(), F.lit(1))
                        .otherwise(F.col(c).rlike(pat).cast("int"))
                    ).alias(f"pat{i}__{c}")
                )
        # A11 duplicate rows: count - distinct over a 64-bit row hash (hashing
        # first keeps the distinct narrow at 100 TB; reference drops dupes in
        # pandas, profiling/profiler.py:187)
        row_hash = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cols])
        if self.exact:
            aggs.append(F.countDistinct(row_hash).alias("__distinct_rows"))
        else:
            aggs.append(F.approx_count_distinct(row_hash).alias("__distinct_rows"))
        # A12 pairwise correlations in the same pass
        corr_cols = numeric[: self.max_corr_columns] if self.correlations else []
        for i, a in enumerate(corr_cols):
            for b in corr_cols[i + 1:]:
                aggs.append(F.corr(a, b).alias(f"corr__{a}__{b}"))

        row = df.agg(*aggs).collect()[0].asDict()
        n = row["__n"]

        # A2/A5 quantiles: one GK-sketch job for every numeric column at once
        quantiles: dict[str, list[float]] = {}
        if numeric and n:
            if self.exact:
                qaggs = [
                    F.expr(f"percentile(`{c}`, array(0.25, 0.5, 0.75))").alias(c)
                    for c in numeric
                ]
                qrow = df.agg(*qaggs).collect()[0].asDict()
                quantiles = {c: list(qrow[c]) if qrow[c] else [None] * 3 for c in numeric}
            else:
                qs = df.approxQuantile(numeric, [0.25, 0.5, 0.75], self.quantile_error)
                quantiles = dict(zip(numeric, qs))

        profiles: dict[str, ColumnProfile] = {}
        for c in cols:
            miss = int(row[f"miss__{c}"] or 0)
            dist = int(row[f"dist__{c}"] or 0)
            non_null = n - miss
            p = ColumnProfile(
                name=c,
                dtype=_dtype_label(fields[c]),
                n=n,
                n_missing=miss,
                n_distinct=dist,
                unique_ratio=(dist / non_null) if non_null else None,
            )
            if c in numeric:
                p.mean = row.get(f"mean__{c}")
                p.std = row.get(f"std__{c}")
                p.min = row.get(f"min__{c}")
                p.max = row.get(f"max__{c}")
                q = quantiles.get(c)
                if q and q[0] is not None:
                    p.q1, p.median, p.q3 = q
            elif c in temporal:
                p.min = row.get(f"min__{c}")
                p.max = row.get(f"max__{c}")
            elif c in arrays:
                p.array_stats = {
                    "size_min": row.get(f"szmin__{c}"),
                    "size_max": row.get(f"szmax__{c}"),
                    "size_mean": row.get(f"szmean__{c}"),
                    "total_elements": row.get(f"sztot__{c}"),
                    "element_min": row.get(f"emin__{c}"),
                    "element_max": row.get(f"emax__{c}"),
                }
            if c in strings:
                for i, pat in enumerate(_PATTERNS):
                    v = row.get(f"pat{i}__{c}")
                    if v is not None and int(v) == 1 and non_null:
                        p.inferred_pattern = pat
                        break
            profiles[c] = p

        # A7 histograms: ALL numeric columns in one job — unpivot to
        # (col, value), bucket with the min/max already computed, group once.
        if numeric and n:
            span: dict[str, tuple[float, float]] = {}  # col -> (lo, width)
            for c in numeric:
                if profiles[c].min is not None and profiles[c].max is not None:
                    lo, hi = float(profiles[c].min), float(profiles[c].max)
                    span[c] = (lo, _bin_width(lo, hi, self.histogram_bins))
            exprs = []
            for c, (lo, width) in span.items():
                bucket = F.least(
                    F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(width)),
                    F.lit(self.histogram_bins - 1),
                ).cast("int")
                exprs.append(
                    F.when(F.col(c).isNotNull(), F.struct(F.lit(c).alias("col"), bucket.alias("bucket")))
                )
            if exprs:
                hist = (
                    df.select(F.explode(F.array_compact(F.array(*exprs))).alias("cb"))
                    .groupBy("cb.col", "cb.bucket")
                    .count()
                    .collect()
                )
                by_col: dict[str, dict[int, int]] = {}
                for r in hist:
                    by_col.setdefault(r["col"], {})[r["bucket"]] = r["count"]
                for c, (lo, width) in span.items():
                    counts = by_col.get(c, {})
                    profiles[c].histogram = [
                        (lo + i * width, lo + (i + 1) * width, counts.get(i, 0))
                        for i in range(self.histogram_bins)
                    ]

        # A8 categorical values: one collect for all low-cardinality strings
        cat_cols = [
            c for c in strings
            if profiles[c].n_distinct and 0 < profiles[c].n_distinct <= self.categorical_threshold
        ]
        if cat_cols:
            crow = df.agg(
                *[F.sort_array(F.collect_set(c)).alias(c) for c in cat_cols]
            ).collect()[0]
            for c in cat_cols:
                profiles[c].categorical_values = list(crow[c])

        correlations = {
            (a, b): (row[f"corr__{a}__{b}"] if row.get(f"corr__{a}__{b}") is not None else 0.0)
            for i, a in enumerate(corr_cols)
            for b in corr_cols[i + 1:]
        }
        duplicate_rows = int(n - (row["__distinct_rows"] or 0)) if n else 0

        raw_backend, backend_used = self._run_backend(df)
        report = ProfileReport(
            n_rows=n,
            columns=profiles,
            duplicate_rows=max(0, duplicate_rows),
            correlations=correlations,
            backend=backend_used,
            raw_backend_report=raw_backend,
        )
        report.quality = self._quality(report, numeric, df)
        for p in profiles.values():
            p.suggestion = self._suggest(p)
        return report

    # A15 constraint suggestion (reference profiling/profiler.py:344-376)
    def _suggest(self, p: ColumnProfile) -> dict[str, Any]:
        s: dict[str, Any] = {}
        confidence = 0.6
        if p.dtype in ("int", "float") and p.min is not None:
            s["ge"], s["le"] = p.min, p.max
            confidence += 0.1
        if p.categorical_values is not None:
            s["isin"] = p.categorical_values
            confidence += 0.1
        elif p.inferred_pattern:
            s["pattern"] = p.inferred_pattern
            confidence += 0.1
        if (
            p.dtype == "array<int>"
            and p.array_stats
            and p.array_stats.get("element_min") is not None
        ):
            s["element_ge"] = int(p.array_stats["element_min"])
            s["element_lt"] = int(p.array_stats["element_max"]) + 1
            confidence += 0.1
        if p.unique_ratio is not None and p.unique_ratio > 0.98:
            s["unique"] = True
            confidence += 0.1
        if p.n_missing == 0:
            s["nullable"] = False
            confidence += 0.1
        s["confidence"] = min(confidence, 0.99)
        return s

    # A13/A14 quality score (reference profiling/profiler.py:378-446)
    def _quality(self, rep: ProfileReport, numeric: list[str], df: DataFrame) -> dict[str, float]:
        n = rep.n_rows or 1
        completeness = 1.0 - sum(p.n_missing for p in rep.columns.values()) / (
            n * max(len(rep.columns), 1)
        )
        uniqueness = 1.0 - rep.duplicate_rows / n
        # validity = 1 − IQR-outlier ratio (1.5·IQR fences), one extra agg job
        validity = 1.0
        fences = []
        for c in numeric:
            p = rep.columns[c]
            if p.q1 is not None and p.q3 is not None and p.q3 > p.q1:
                iqr = p.q3 - p.q1
                lo, hi = p.q1 - 1.5 * iqr, p.q3 + 1.5 * iqr
                fences.append(
                    F.mean(((F.col(c) < lo) | (F.col(c) > hi)).cast("double")).alias(c)
                )
        if fences:
            out = df.agg(*fences).collect()[0]
            ratios = [v for v in out if v is not None]
            if ratios:
                validity = 1.0 - sum(ratios) / len(ratios)
        consistency = 1.0  # type conformance is schema-checked upstream
        timeliness = 1.0
        tcols = [p for p in rep.columns.values() if p.dtype in ("datetime", "date") and p.max]
        if tcols:
            newest = max(
                p.max if isinstance(p.max, _dt.datetime)
                else _dt.datetime.combine(p.max, _dt.time())
                for p in tcols
            )
            days = (_dt.datetime.now() - newest).days
            timeliness = 1.0 - min(max(days, 0), 180) / 180.0
        overall = (
            0.25 * completeness + 0.2 * validity + 0.2 * consistency
            + 0.2 * uniqueness + 0.15 * timeliness
        )
        return {
            "completeness": completeness,
            "validity": validity,
            "consistency": consistency,
            "uniqueness": uniqueness,
            "timeliness": timeliness,
            "overall": overall,
        }
