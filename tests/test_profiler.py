"""Profiler + drift tests — Spark analogue of reference
tests/test_core/test_profiling.py, with exact-mode comparisons against
pandas oracles at test scale."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark.operators.drift import (
    chi_square_from_counts,
    compare_profiles,
    numeric_drift,
    psi_from_counts,
    token_frequency_drift,
)
from pandera_unified_validator_spark.operators.profiler import DataProfiler
from pandera_unified_validator_spark.tokens import token_table


@pytest.fixture(scope="module")
def frame(spark):
    # FIXTURES.md F5-style frame
    pdf = pd.DataFrame(
        {
            "id": range(100),
            "name": [f"Name {chr(65 + i % 3)}" for i in range(100)],
            "score": [float(i % 50) for i in range(100)],
            "category": [["A", "B", "C"][i % 3] for i in range(100)],
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_profile_stats_match_pandas(spark, frame):
    df, pdf = frame
    rep = DataProfiler(exact=True).profile(df)
    assert rep.n_rows == 100
    p = rep.columns["score"]
    assert p.mean == pytest.approx(pdf["score"].mean())
    assert p.std == pytest.approx(pdf["score"].std(ddof=0))
    assert p.min == pdf["score"].min() and p.max == pdf["score"].max()
    assert p.median == pytest.approx(pdf["score"].quantile(0.5))
    assert p.q1 == pytest.approx(pdf["score"].quantile(0.25))
    assert rep.columns["id"].unique_ratio == 1.0
    assert rep.columns["id"].n_distinct == 100


def test_histogram_counts_sum_to_rows(spark, frame):
    df, pdf = frame
    rep = DataProfiler(exact=True).profile(df)
    hist = rep.columns["score"].histogram
    assert len(hist) == 10
    assert sum(n for _, _, n in hist) == 100


def test_categorical_and_pattern_inference(spark, frame):
    df, _ = frame
    rep = DataProfiler(exact=True).profile(df)
    assert rep.columns["category"].categorical_values == ["A", "B", "C"]
    assert rep.columns["name"].inferred_pattern == r"^[A-Za-z\s]+$"


def test_suggestions_and_suggested_schema(spark, frame):
    df, _ = frame
    rep = DataProfiler(exact=True).profile(df)
    s = rep.columns["id"].suggestion
    assert s["unique"] is True and s["nullable"] is False
    assert s["ge"] == 0 and s["le"] == 99
    schema = rep.suggested_schema()
    assert schema.columns["category"].isin == ["A", "B", "C"]
    # the suggested schema must validate the data it was inferred from
    from pandera_unified_validator_spark import SparkValidator

    assert SparkValidator(schema).validate(df).is_valid


def test_duplicate_rows_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, None)], "id int, s string"
    )
    rep = DataProfiler(exact=True).profile(df)
    assert rep.duplicate_rows == 1
    assert 0.0 < rep.quality_score <= 1.0
    assert rep.quality["completeness"] == pytest.approx(1 - 1 / 8)


def test_correlations(spark):
    pdf = pd.DataFrame({"x": range(50), "y": [2 * i + 1 for i in range(50)]})
    rep = DataProfiler(exact=True).profile(spark.createDataFrame(pdf))
    assert rep.correlations[("x", "y")] == pytest.approx(1.0)


def test_mean_drift_detection(spark, frame):
    df, pdf = frame
    shifted = df.withColumn("score", F.col("score") + 50.0)
    prof = DataProfiler(exact=True, correlations=False)
    rep = compare_profiles(prof.profile(df), prof.profile(shifted))
    assert rep.drifted
    assert rep.column_drift["score"] > 0.2
    same = compare_profiles(prof.profile(df), prof.profile(df))
    assert not same.drifted


def test_psi_math():
    assert psi_from_counts([10, 10, 10], [10, 10, 10]) == pytest.approx(0.0)
    assert psi_from_counts([30, 0, 0], [0, 0, 30]) > 1.0
    stat, dof = chi_square_from_counts([10, 10], [10, 10])
    assert stat == pytest.approx(0.0) and dof == 1


def test_numeric_drift_psi(spark):
    a = token_table(spark, 2000, seed=42)
    b_same = token_table(spark, 2000, seed=42)
    rep = numeric_drift(a, b_same, "n_tok")
    assert rep.psi["n_tok"] == pytest.approx(0.0, abs=1e-9)
    # shift: halve every n_tok → distribution change must trip PSI
    b_shift = a.withColumn("n_tok", (F.col("n_tok") / 4 + 1).cast("int"))
    rep2 = numeric_drift(a, b_shift, "n_tok")
    assert rep2.drifted and rep2.psi["n_tok"] > 0.2


def test_numeric_drift_survives_subnormal_span(spark):
    """A baseline spanning [0.0, 5e-324] has min < max, but its bucket width
    underflows to 0.0, so every shared edge is 0.0. The histograms must take
    ``histogram_df``'s width guard instead of dividing by zero (ANSI mode
    turns that into DIVIDE_BY_ZERO)."""
    df = spark.createDataFrame([(0.0,), (5e-324,), (5e-324,)], "x double")
    rep = numeric_drift(df, df, "x")
    assert rep.psi["x"] == pytest.approx(0.0, abs=1e-9)
    assert not rep.drifted


def test_token_frequency_drift(spark):
    a = token_table(spark, 500, seed=42)
    b = token_table(spark, 500, seed=42)
    rep = token_frequency_drift(a, b, num_buckets=64)
    assert rep.psi["tokens"] == pytest.approx(0.0, abs=1e-9)
    # biased tokens: clamp ids to a small range → bucket distribution shifts
    biased = a.withColumn("tokens", F.transform("tokens", lambda t: t % 7))
    rep2 = token_frequency_drift(a, biased, num_buckets=64)
    assert rep2.drifted and rep2.psi["tokens"] > 0.5


def test_array_column_profile_and_suggestion(spark):
    from pandera_unified_validator_spark import SparkValidator

    df = token_table(spark, 500)
    rep = DataProfiler(exact=True).profile(df)
    st = rep.columns["tokens"].array_stats
    assert st is not None
    assert st["size_min"] >= 1 and st["size_max"] <= 8192
    assert st["total_elements"] > 0
    assert 0 <= st["element_min"] and st["element_max"] < 50257
    # per-row size stats agree with the n_tok column (clean table invariant)
    import pyspark.sql.functions as F

    n_tok_max = df.agg(F.max("n_tok")).collect()[0][0]
    assert st["size_max"] == n_tok_max
    # suggested schema includes element bounds and re-validates the data
    sug = rep.suggested_schema()
    spec = sug.columns["tokens"]
    assert spec.element_ge == st["element_min"]
    assert spec.element_lt == st["element_max"] + 1
    assert SparkValidator(sug).validate(df).is_valid


def test_ks_statistics(spark):
    """Exact KS vs a hand-computed small case; histogram KS converges to the
    exact value as bins grow."""
    from pandera_unified_validator_spark.operators.drift import (
        ks_from_histograms,
        ks_statistic_exact,
    )

    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4]], "x double")
    b = spark.createDataFrame([(float(v),) for v in [3, 4, 5, 6]], "x double")
    # ECDFs: at v=2 F_a=0.5, F_b=0 -> D=0.5
    got = ks_statistic_exact(a, b, "x").collect()[0]["ks"]
    assert got == 0.5
    # identical samples -> 0
    assert ks_statistic_exact(a, a, "x").collect()[0]["ks"] == 0.0
    approx = ks_from_histograms(a, b, "x", 1.0, 6.0, 100).collect()[0]["ks"]
    assert abs(approx - 0.5) <= 0.01


def test_ks_empty_side_is_null(spark):
    """Contract: ks is NULL (not NaN) when either side has no non-null rows."""
    from pandera_unified_validator_spark.operators.drift import (
        ks_from_histograms,
        ks_statistic_exact,
    )

    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3]], "x double")
    empty = spark.createDataFrame([], "x double")
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    for bad in (empty, nulls):
        assert ks_statistic_exact(a, bad, "x").collect()[0]["ks"] is None
        assert ks_statistic_exact(bad, a, "x").collect()[0]["ks"] is None
    assert ks_from_histograms(a, empty, "x", 1.0, 3.0, 10).collect()[0]["ks"] is None


def test_profiler_backend_dispatch(spark):
    """External-backend façade (reference profiling/profiler.py:164-176,
    248-255): unknown backends rejected; requesting a missing library falls
    back silently to builtin (the reference's (None, "built-in") contract);
    the builtin distributed stats are computed either way."""
    from pandera_unified_validator_spark.operators.profiler import DataProfiler

    with pytest.raises(ValueError, match="Unsupported backend"):
        DataProfiler(backend="nope")

    df = spark.range(100).selectExpr("id", "cast(id % 7 as double) as x")
    # ydata-profiling / sweetviz are not installed in this container
    rep = DataProfiler(backend="ydata-profiling").profile(df)
    assert rep.backend == "built-in" and rep.raw_backend_report is None
    assert rep.columns["x"].mean is not None  # builtin stats still full
    assert rep.to_dict()["backend"] == "built-in"
    rep2 = DataProfiler(backend="sweetviz").profile(df)
    assert rep2.backend == "built-in"
    # legacy spelling accepted as a selectable alias
    assert DataProfiler(backend="builtin").backend == "built-in"


def test_mean_drift_df(spark):
    """Distributed D1 matches the reference compare_profiles formula
    (|mean_b - mean_a| / |mean_a|, denom 1 when mean_a == 0) computed in
    pandas."""
    import pandas as pd

    from pandera_unified_validator_spark.operators.drift import mean_drift_df

    pa = pd.DataFrame({"x": [1.0, 2.0, 3.0], "z": [0.0, 0.0, 0.0]})
    pb = pd.DataFrame({"x": [2.0, 4.0, 6.0], "z": [1.0, 1.0, 1.0]})
    out = {
        r["column"]: r["mean_drift"]
        for r in mean_drift_df(
            spark.createDataFrame(pa), spark.createDataFrame(pb), ["x", "z"]
        ).collect()
    }
    assert out["x"] == 1.0          # (4-2)/2
    assert out["z"] == 1.0          # mean_a == 0 -> denom 1


def test_histogram_survives_subnormal_span(spark):
    """A column spanning [0.0, 5e-324] (denormal): (hi-lo)/bins underflows
    to 0.0, which ANSI mode turns into a job-killing DIVIDE_BY_ZERO unless
    the computed width is guarded (hypothesis-found, round 5; the guard on
    hi > lo alone was insufficient)."""
    import pandas as pd

    from pandera_unified_validator_spark.operators.drift import histogram_df
    from pandera_unified_validator_spark.operators.profiler import DataProfiler

    df = spark.createDataFrame(pd.DataFrame({"x": [0.0, 5e-324]}))
    prof = DataProfiler().profile(df)
    assert prof.columns["x"].histogram is not None
    assert sum(n for _, _, n in prof.columns["x"].histogram) == 2
    assert histogram_df(df, "x", 0.0, 5e-324, 10).count() >= 1
