"""Distribution-drift operators — SURVEY.md §2.6 (D1-D3) plus the north-star
upgrades: PSI / chi-square over shared-edge histograms and token-id frequency
drift over ``tokens array<int32>`` via ``explode`` (the one operator with no
reference analogue, SURVEY.md §2.8).

The reference's drift check is relative-mean only
(``profiling/profiler.py:206-244``, formula at :213-217, 0.2 threshold at
:227-229); we keep that exact semantic in ``compare_profiles`` and add the
histogram-based divergences. All heavy lifting is two aggregation jobs (one
per side); the PSI/chi-square arithmetic happens driver-side on ≤ K buckets.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .profiler import ProfileReport, _bin_width

__all__ = [
    "DriftReport",
    "compare_profiles",
    "histogram_counts",
    "psi_from_counts",
    "chi_square_from_counts",
    "ks_statistic_exact",
    "ks_from_histograms",
    "numeric_drift",
    "token_bucket_counts",
    "token_frequency_drift",
]

_EPS = 1e-9


@dataclass
class DriftReport:
    drifted: bool
    notes: list[str] = field(default_factory=list)
    column_drift: dict[str, float] = field(default_factory=dict)   # relative mean drift
    psi: dict[str, float] = field(default_factory=dict)
    chi_square: dict[str, tuple[float, int]] = field(default_factory=dict)  # (stat, dof)
    quality_delta: dict[str, float] = field(default_factory=dict)
    summary_delta: dict[str, float] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "drifted": self.drifted,
            "notes": self.notes,
            "column_drift": self.column_drift,
            "psi": self.psi,
            "chi_square": {k: {"stat": v[0], "dof": v[1]} for k, v in self.chi_square.items()},
            "quality_delta": self.quality_delta,
            "summary_delta": self.summary_delta,
        }


def histogram_df(df: DataFrame, column: str, lo: float, hi: float, bins: int) -> DataFrame:
    """Lazy equal-width histogram (bucket, n) over fixed [lo, hi] — values
    clamp into boundary buckets, nulls drop. One groupBy when acted on."""
    c = F.col(column).cast("double")
    width = _bin_width(lo, hi, bins)
    bucket = F.least(
        F.greatest(F.floor((c - F.lit(float(lo))) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.filter(c.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_df(
    baseline: DataFrame, current: DataFrame, column: str,
    lo: float, hi: float, bins: int, round_to: int = 4,
) -> DataFrame:
    """PSI as a one-row DataFrame computed fully in-plan (shared fixed edges):
    two histogram aggs → outer join on bucket → Σ (q−p)·ln(q/p)."""
    e = histogram_df(baseline, column, lo, hi, bins).withColumnRenamed("n", "ne")
    a = histogram_df(current, column, lo, hi, bins).withColumnRenamed("n", "na")
    j = e.join(a, "bucket", "full_outer").select(
        F.coalesce("ne", F.lit(0)).alias("ne"), F.coalesce("na", F.lit(0)).alias("na")
    )
    tot = j.agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"))
    eps = F.lit(_EPS)
    p = F.greatest(F.col("ne") / F.col("te"), eps)
    q = F.greatest(F.col("na") / F.col("ta"), eps)
    return (
        j.crossJoin(tot)
        .agg(F.round(F.sum((q - p) * F.log(q / p)), round_to).alias("psi"))
    )


def ks_statistic_exact(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    round_to: int = 4,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic as a one-row DataFrame:
    union both sides tagged, group by value (ties collapse), cumulative
    per-side counts over the value order, D = max |F_a − F_b|.

    The cumulative step is a global-ordered window — a single-task sort over
    the DISTINCT values only (post-groupBy), fine up to millions of distinct
    values; for the 10^12-row regime use ``ks_from_histograms`` (bucketed
    ECDF over ≤K buckets, everything map-side).

    Contract: ``ks`` is NULL when either side has zero non-null rows (the
    statistic is undefined there; previously this silently produced NaN)."""
    from pyspark.sql import Window

    va = (
        baseline.select(F.col(column).cast("double").alias("v"))
        .where("v IS NOT NULL")
        .select("v", F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    )
    vb = (
        current.select(F.col(column).cast("double").alias("v"))
        .where("v IS NOT NULL")
        .select("v", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    )
    g = va.unionAll(vb).groupBy("v").agg(
        F.sum("__a").alias("ca"), F.sum("__b").alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        F.sum("ca").over(w).alias("fa"), F.sum("cb").over(w).alias("fb")
    )
    tot = cum.agg(F.max("fa").alias("na"), F.max("fb").alias("nb"))
    return cum.crossJoin(tot).agg(
        F.round(
            F.max(
                F.when(
                    (F.col("na") > 0) & (F.col("nb") > 0),
                    F.abs(F.col("fa") / F.col("na") - F.col("fb") / F.col("nb")),
                )
            ),
            round_to,
        ).alias("ks")
    )


def ks_from_histograms(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int,
    round_to: int = 4,
) -> DataFrame:
    """Approximate KS over shared-edge histograms — the 100 TB path: two
    map-side-combined histogram aggs, then the cumulative/max arithmetic over
    ≤``bins`` rows. Error ≤ the mass of the widest bucket; tighten with more
    bins. ``ks`` is NULL when either side has zero in-range rows (undefined
    statistic, same contract as the exact path).

    The cumulative step collapses the joined histogram to ONE row
    (``sort_array(collect_list(...))`` over ≤ bins structs) and runs the
    running-sum/max-|ΔECDF| scan as an ``F.aggregate`` fold over that array —
    no WindowExec in the plan at all (a global-ordered window moves data to
    one task and warns; a constant ``partitionBy(lit)`` gets constant-folded
    back to the same warning-emitting form — measured r3) and each input is
    scanned exactly once. The fold is interpreted, but over ≤ bins elements
    on one row that is nanoseconds."""
    e = histogram_df(baseline, column, lo, hi, bins).withColumnRenamed("n", "ne")
    a = histogram_df(current, column, lo, hi, bins).withColumnRenamed("n", "na")
    j = e.join(a, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("ne", F.lit(0)).alias("ne"),
        F.coalesce("na", F.lit(0)).alias("na"),
    )
    row = j.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "ne", "na"))).alias("h")
    )
    zl = F.lit(0).cast("long")
    te = F.aggregate(F.col("h"), zl, lambda acc, s: acc + s["ne"])
    ta = F.aggregate(F.col("h"), zl, lambda acc, s: acc + s["na"])
    row = row.select("h", te.alias("te"), ta.alias("ta"))
    # fold state: running counts (fe, fa) + best |Fe/te - Fa/ta| so far; d
    # starts NULL and stays NULL when either side is empty (greatest skips
    # NULLs, the when() never fires) — the documented undefined-KS contract
    ks = F.aggregate(
        F.col("h"),
        F.struct(
            zl.alias("fe"), zl.alias("fa"), F.lit(None).cast("double").alias("d")
        ),
        lambda acc, s: F.struct(
            (acc["fe"] + s["ne"]).alias("fe"),
            (acc["fa"] + s["na"]).alias("fa"),
            F.greatest(
                acc["d"],
                F.when(
                    (F.col("te") > 0) & (F.col("ta") > 0),
                    F.abs(
                        (acc["fe"] + s["ne"]) / F.col("te")
                        - (acc["fa"] + s["na"]) / F.col("ta")
                    ),
                ),
            ).alias("d"),
        ),
        lambda acc: acc["d"],
    )
    return row.select(F.round(ks, round_to).alias("ks"))


# ---------------------------------------------------------------- D1-D3 ----
def compare_profiles(
    a: ProfileReport, b: ProfileReport, mean_drift_threshold: float = 0.2
) -> DriftReport:
    """Reference semantics: relative mean drift per shared numeric column
    (``abs(mean_b - mean_a) / max(|mean_a|, 1)``), note when > threshold
    (profiling/profiler.py:213-229); quality + summary deltas (D2, D3)."""
    rep = DriftReport(drifted=False)
    shared = set(a.columns) & set(b.columns)
    for c in sorted(shared):
        pa, pb = a.columns[c], b.columns[c]
        if pa.mean is None or pb.mean is None:
            continue
        drift = abs(pb.mean - pa.mean) / max(abs(pa.mean), 1.0)
        rep.column_drift[c] = drift
        if drift > mean_drift_threshold:
            rep.drifted = True
            rep.notes.append(f"column {c!r}: relative mean drift {drift:.3f} > {mean_drift_threshold}")
    rep.quality_delta = {
        k: b.quality.get(k, 0.0) - a.quality.get(k, 0.0) for k in a.quality
    }
    rep.summary_delta = {
        "n_rows": b.n_rows - a.n_rows,
        "duplicate_rows": b.duplicate_rows - a.duplicate_rows,
    }
    return rep


# ------------------------------------------------------- histogram drift ----
def histogram_counts(
    df: DataFrame, column: str, edges: Sequence[float]
) -> list[int]:
    """Counts per bucket for FIXED shared edges (len(edges)-1 buckets,
    right-closed last bucket): ``histogram_df`` over the outer edges, collected.
    One groupBy job; values outside the edges clamp into the boundary buckets
    so both sides always share a support."""
    n_buckets = len(edges) - 1
    counts = [0] * n_buckets
    for r in histogram_df(df, column, edges[0], edges[-1], n_buckets).collect():
        counts[r["bucket"]] = r["n"]
    return counts


def psi_from_counts(expected: Sequence[int], actual: Sequence[int]) -> float:
    """Population Stability Index: Σ (p−q)·ln(p/q), zero-protected."""
    se, sa = max(sum(expected), 1), max(sum(actual), 1)
    psi = 0.0
    for e, a in zip(expected, actual):
        p = max(e / se, _EPS)
        q = max(a / sa, _EPS)
        psi += (q - p) * math.log(q / p)
    return psi


def chi_square_from_counts(expected: Sequence[int], actual: Sequence[int]) -> tuple[float, int]:
    """Pearson chi-square of ``actual`` against ``expected`` scaled to the
    actual total. Returns (statistic, dof). Zero-expected buckets merge into
    the statistic with an epsilon floor."""
    se, sa = max(sum(expected), 1), max(sum(actual), 1)
    stat = 0.0
    used = 0
    for e, a in zip(expected, actual):
        exp_scaled = e / se * sa
        if e == 0 and a == 0:
            continue
        used += 1
        stat += (a - exp_scaled) ** 2 / max(exp_scaled, _EPS)
    return stat, max(used - 1, 1)


def numeric_drift(
    baseline: DataFrame,
    current: DataFrame,
    column: str,
    bins: int = 10,
    psi_threshold: float = 0.2,
) -> DriftReport:
    """PSI + chi-square on a shared-edge histogram of ``column`` — the
    north-star ``n_tok`` drift check. Edges come from the BASELINE side's
    min/max (one tiny agg job), then one groupBy per side."""
    mm = baseline.agg(
        F.min(F.col(column).cast("double")).alias("lo"),
        F.max(F.col(column).cast("double")).alias("hi"),
    ).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    if lo is None or hi is None or hi <= lo:
        return DriftReport(drifted=False, notes=[f"column {column!r}: degenerate baseline"])
    width = _bin_width(lo, hi, bins)
    edges = [lo + i * width for i in range(bins + 1)]
    e = histogram_counts(baseline, column, edges)
    a = histogram_counts(current, column, edges)
    psi = psi_from_counts(e, a)
    chi = chi_square_from_counts(e, a)
    rep = DriftReport(
        drifted=psi > psi_threshold,
        psi={column: psi},
        chi_square={column: chi},
    )
    if rep.drifted:
        rep.notes.append(f"column {column!r}: PSI {psi:.4f} > {psi_threshold}")
    return rep


# -------------------------------------------------- token-frequency drift ----
def token_bucket_counts(
    df: DataFrame, tokens_col: str = "tokens", num_buckets: int = 1024
) -> DataFrame:
    """Lazy per-bucket token-id counts — the distributed core of
    ``token_frequency_drift``, exposed for composition and SQL-oracle
    comparison (the ``numeric_summary`` pattern). Token ids fold into
    ``num_buckets`` hash buckets BEFORE the shuffle, so map-side combine
    sees ≤ num_buckets keys per partition and the shuffle moves ≤
    partitions × buckets rows regardless of corpus size. Returns
    (bucket, n); empty/NULL token arrays contribute nothing."""
    return (
        df.select(F.explode(tokens_col).alias("tok"))
        .groupBy(F.pmod(F.col("tok"), F.lit(num_buckets)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def token_frequency_drift(
    baseline: DataFrame,
    current: DataFrame,
    tokens_col: str = "tokens",
    num_buckets: int = 1024,
    psi_threshold: float = 0.1,
    sample_fraction: float | None = None,
) -> DriftReport:
    """Token-id frequency drift over ``tokens array<int32>``.

    At 10^12 sequences a full per-token-id frequency table is ~vocab-sized and
    cheap to aggregate, but the explode itself is the cost — so (a) optional
    row sampling, (b) token ids fold into ``num_buckets`` hash buckets BEFORE
    the shuffle (map-side combine sees ≤ num_buckets keys per partition, so
    the shuffle moves ≤ partitions × buckets rows regardless of data size).
    PSI over the bucket distribution is computed driver-side.
    """

    def bucket_counts(df: DataFrame) -> list[int]:
        if sample_fraction:
            df = df.sample(fraction=sample_fraction, seed=42)
        rows = token_bucket_counts(df, tokens_col, num_buckets).collect()
        counts = [0] * num_buckets
        for r in rows:
            if r["bucket"] is not None:
                counts[int(r["bucket"])] = r["n"]
        return counts

    e = bucket_counts(baseline)
    a = bucket_counts(current)
    psi = psi_from_counts(e, a)
    chi = chi_square_from_counts(e, a)
    rep = DriftReport(
        drifted=psi > psi_threshold,
        psi={tokens_col: psi},
        chi_square={tokens_col: chi},
    )
    if rep.drifted:
        rep.notes.append(f"token-frequency PSI {psi:.4f} > {psi_threshold}")
    return rep


def mean_drift_df(
    baseline: DataFrame,
    current: DataFrame,
    columns: Sequence[str],
    round_to: int = 4,
) -> DataFrame:
    """Distributed D1: per-column relative mean drift as a DataFrame, the
    reference ``compare_profiles`` column_drift formula (profiling/
    profiler.py:210-217: ``abs(mean_b - mean_a) / denom`` with ``denom =
    abs(mean_a) if mean_a != 0 else 1``) computed in-plan — two map-side
    combined agg jobs (one row each), a 1×1 crossJoin, and an inline
    unpivot. Nothing but two 1-row frames ever reaches the driver, so the
    shape is identical at 10^12 rows. ``compare_profiles`` keeps the
    report-object path; this is the engine path for drift-as-a-table."""
    a = baseline.agg(*[F.mean(c).alias(f"a__{c}") for c in columns])
    b = current.agg(*[F.mean(c).alias(f"b__{c}") for c in columns])

    def drift(c: str):
        ma, mb = F.col(f"a__{c}"), F.col(f"b__{c}")
        denom = F.when(ma != 0, F.abs(ma)).otherwise(F.lit(1.0))
        return F.abs(mb - ma) / denom

    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.round(drift(c), round_to).alias("mean_drift"),
                )
                for c in columns
            ]
        )
    ).alias("s")
    return a.crossJoin(b).select(pairs).select("s.column", "s.mean_drift")

