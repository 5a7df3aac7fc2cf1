"""End-to-end validation engine tests over the deterministic token table
(FIXTURES.md F1) and small literal frames — the Spark analogue of the
reference's tests/test_core/test_unified_validator.py + test_backends.py."""

import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark import (
    SchemaBuilder,
    SparkValidator,
    ValidationFailedError,
)
from pandera_unified_validator_spark.tokens import (
    MAX_TOK,
    VOCAB_SIZE,
    expected_dirty_counts,
    source_dim,
    token_schema,
    token_table,
)

N = 3000


@pytest.fixture(scope="module")
def clean(spark):
    return token_table(spark, N, dirty=False, num_partitions=4).cache()


@pytest.fixture(scope="module")
def dirty(spark):
    return token_table(spark, N, dirty=True, num_partitions=4).cache()


def make_validator(spark, **kw):
    return SparkValidator(
        token_schema(),
        ref_checks={"source": source_dim(spark)},
        key_columns=("doc_id",),
        **kw,
    )


def test_clean_table_passes(spark, clean):
    res = make_validator(spark).validate(clean)
    assert res.is_valid, res.report.to_console()
    assert res.report.n_rows == N
    assert res.report.n_invalid_rows == 0
    assert res.violations().count() == 0


def test_dirty_table_verdicts_exact(spark, dirty):
    res = make_validator(spark).validate(dirty)
    assert not res.is_valid
    got = {c.name: c.n_failed for c in res.report.checks}
    exp = expected_dirty_counts(N)
    for name, n in exp.items():
        assert got[name] == n, f"{name}: got {got[name]}, expected {n}"
    # pattern check: only null doc_ids are exempt; all injected values match
    assert got["doc_id__pattern"] == 0
    # referential via dimension table must agree with the literal isin check
    assert got["source__referential"] == got["source__isin"]
    # cross-column: injected length mismatches + element-injection rows whose
    # rebuilt 2-token array no longer matches n_tok
    assert got["table__tokens_len_matches"] >= exp.get("tokens__element_range", 0)


def test_violation_rows_keyed_and_labeled(spark, dirty):
    res = make_validator(spark).validate(dirty)
    v = res.violations()
    assert "failed_checks" in v.columns
    n_invalid = res.report.n_invalid_rows
    assert v.count() == n_invalid
    # every violation row carries at least one failed check name
    assert v.filter(F.size("failed_checks") == 0).count() == 0
    # a known injected row: id=991 duplicates doc 990
    row = v.filter(F.col("doc_id") == "doc-%012d" % 990).collect()
    assert row and "doc_id__unique" in row[0]["failed_checks"]


def test_split_partitions_input(spark, dirty):
    valid, invalid, report = make_validator(spark).validate_and_split(dirty)
    assert valid.count() + invalid.count() == N
    assert invalid.count() == report.n_invalid_rows
    assert set(valid.columns) == {"doc_id", "tokens", "n_tok", "source"}


def test_fail_fast_raises(spark, dirty):
    with pytest.raises(ValidationFailedError):
        make_validator(spark, fail_fast=True).validate(dirty)


def test_per_partition_verdicts(spark, dirty):
    res = make_validator(spark).validate(dirty)
    pv = res.verdicts.collect()
    # long format: one row per (partition, check)
    checks = {r["check"] for r in pv}
    assert "n_tok__ge" in checks and "doc_id__unique" in checks
    total = sum(r["n_failed"] for r in pv if r["check"] == "source__isin")
    assert total == expected_dirty_counts(N)["source__isin"]


def test_missing_column_and_dtype_errors(spark):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    schema = (
        SchemaBuilder("t")
        .column("id", "str")           # dtype mismatch: long vs str
        .column("absent", "int")       # missing column
        .build()
    )
    rep = SparkValidator(schema).validate(df).report
    assert not rep.is_valid
    assert any("absent" in e for e in rep.errors)
    assert any("dtype" in e for e in rep.errors)


def test_null_passes_value_checks(spark):
    # pandera semantics: NULL passes ge/le/pattern/isin; nullable is separate
    df = spark.createDataFrame([(None,), (5,), (-3,)], "x int")
    schema = SchemaBuilder("t").column("x", "int", ge=0).build()
    rep = SparkValidator(schema).validate(df).report
    by = {c.name: c.n_failed for c in rep.checks}
    assert by["x__ge"] == 1  # only -3


def test_conditional_check_enforced(spark):
    # the reference collected but never enforced conditionals (dead code);
    # we implement the declared semantics
    df = spark.createDataFrame(
        [("premium", 100.0), ("premium", 5.0), ("basic", 5.0), (None, 1.0)],
        "tier string, spend double",
    )
    schema = (
        SchemaBuilder("t")
        .column("tier", "str")
        .column("spend", "float")
        .conditional_check("premium_min_spend", "tier = 'premium'", "spend >= 50.0")
        .build()
    )
    rep = SparkValidator(schema).validate(df).report
    by = {c.name: c.n_failed for c in rep.checks}
    assert by["table__premium_min_spend"] == 1


def test_custom_sql_and_pandas_udf_checks(spark):
    import pandas as pd

    df = spark.createDataFrame([("abc",), ("x",), (None,)], "s string")
    schema = (
        SchemaBuilder("t")
        .column("s", "str")
        .custom_check("s", "min_len", sql="length({c}) >= 2")
        .custom_check("s", "no_x", fn=lambda ser: ~ser.str.contains("x"))
        .build()
    )
    rep = SparkValidator(schema).validate(df).report
    by = {c.name: c.n_failed for c in rep.checks}
    assert by["s__custom:min_len"] == 1     # "x"; NULL passes
    assert by["s__custom:no_x"] == 1


def test_strict_mode_flags_extra_columns(spark):
    df = spark.createDataFrame([(1, "a")], "id long, extra string")
    schema = SchemaBuilder("t").column("id", "int").strict().build()
    rep = SparkValidator(schema).validate(df).report
    assert any("extra" in e for e in rep.errors)


def test_token_array_determinism(spark):
    # per-row token-array equality: the generator is a pure function of
    # (id, seed), so two independent builds must agree exactly
    a = token_table(spark, 200, num_partitions=2)
    b = token_table(spark, 200, num_partitions=7)  # different parallelism
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_report_exports(spark, dirty):
    from pandera_unified_validator_spark import to_opentelemetry, to_prometheus
    from pandera_unified_validator_spark.utils.reporting import ValidationMetrics

    res = make_validator(spark).validate(dirty)
    d = res.report.to_dict()
    assert d["summary"]["n_rows"] == N
    assert res.report.to_json().startswith("{")
    html = res.report.to_html()
    assert "FAILED" in html
    # errors-by-column SVG bar chart (dependency-free analogue of the
    # reference's chart.js template): one <rect> per failing column, widths
    # proportional to counts, worst column's bar at full width
    assert "<svg" in html and "Errors by column" in html
    by_col = res.report.errors_by_column()
    assert html.count("<rect") == min(len(by_col), 10)
    assert 'width="360"' in html  # max bar spans the full chart width
    m = ValidationMetrics()
    m.update(10, 2, {"n_tok__ge": 2})
    prom = to_prometheus(m)
    assert "puv_total_rows 12" in prom
    otel = to_opentelemetry(m)
    assert otel["resource_metrics"]["metrics"][0]["data_points"][0]["value"] == 12


def test_unique_auto_falls_back_on_heavy_duplication(spark, monkeypatch):
    """90%-duplicate key column: more dup keys than ``_DUP_KEY_CAP`` must
    NOT broadcast the dup-key set (driver-OOM shape at scale) and must still
    count correctly via the shuffled join-back."""
    from pyspark.sql import functions as F

    from pandera_unified_validator_spark.operators import validator as vmod
    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    n = 10_000
    df = spark.range(n).select(
        F.pmod(F.col("id"), F.lit(n // 10)).cast("long").alias("k")  # every key ~10x
    )
    monkeypatch.setattr(vmod, "_DUP_KEY_CAP", 100)  # far below the ~1000 dup keys
    v = SparkValidator(SchemaBuilder("t").column("k", "int", unique=True).build())
    res = v.validate(df)
    assert v.unique_join_plan["k__unique"] == "shuffle"
    by = {c.name: c.n_failed for c in res.report.checks}
    assert by["k__unique"] == n  # every row is a duplicate member
    # physical plan: the dup-key join-back must not be a forced broadcast
    plan = res.flags._jdf.queryExecution().executedPlan().toString()
    assert "ResolvedHint" not in plan


def test_unique_auto_broadcasts_on_clean_data(spark):
    from pyspark.sql import functions as F

    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    df = spark.range(5_000).select(F.col("id").alias("k"))
    v = SparkValidator(SchemaBuilder("t").column("k", "int", unique=True).build())
    res = v.validate(df)
    assert v.unique_join_plan["k__unique"] == "broadcast"
    assert res.report.is_valid
    # chosen join shape is surfaced to report consumers
    assert res.report.metadata["unique_join_plan"] == {"k__unique": "broadcast"}


def test_unique_auto_is_default(spark):
    """The OOM-safe two-tier plan is the only one: no constructor option
    picks another, and every validation reports the shape it chose."""
    import inspect

    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    assert list(inspect.signature(SparkValidator).parameters) == [
        "schema", "ref_checks", "key_columns", "partition_by",
        "collect_samples", "max_samples", "fail_fast",
    ]
    v = SparkValidator(SchemaBuilder("t").column("k", "int", unique=True).build())
    res = v.validate(spark.range(1000).selectExpr("id as k"))
    assert "unique_join_plan" in res.report.metadata


def test_check_counts_empty_schema(spark):
    """A checkless schema must return an empty typed DataFrame, not
    malformed stack(0,) SQL."""
    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    df = spark.range(10).selectExpr("id as k")
    out = SparkValidator(SchemaBuilder("t").build()).check_counts(df)
    assert out.columns == ["check", "n_failed", "n_checked"]
    assert out.count() == 0


def test_console_sections_logging_and_reference_export(spark, dirty):
    res = make_validator(spark).validate(dirty)
    out = res.report.to_console()
    assert "validation summary" in out
    assert "errors by column" in out and "top errors" in out
    assert "%" in out  # per-column share of all failures (reference parity)

    # suggestions table renders like the reference's Auto-Fix Suggestions
    class _S:
        column = "n_tok"
        description = "cast to int"

    out2 = res.report.to_console(suggestions=[_S()])
    assert "auto-fix suggestions" in out2 and "n_tok: cast to int" in out2
    rd = res.report.to_reference_dict()
    assert set(rd) == {
        "is_valid", "summary", "errors", "warnings", "suggestions",
        "metadata", "timestamp",
    }
    assert rd["summary"]["total_errors"] == len(rd["errors"]) > 0

    import logging

    from pandera_unified_validator_spark import configure_logging, get_logger

    # configure_logging turns propagation off and swaps the handlers of the
    # package logger; restore them so later tests' caplog still captures
    pkg = logging.getLogger("pandera_unified_validator_spark")
    level, handlers, propagate = pkg.level, list(pkg.handlers), pkg.propagate
    try:
        lg = configure_logging(level="DEBUG")
        assert lg.level == 10 and len(lg.handlers) == 1
        configure_logging(level="INFO")  # idempotent: handlers replaced
        assert len(lg.handlers) == 1
        assert get_logger("x").name.endswith(".x")
    finally:
        for h in pkg.handlers:
            h.close()
        pkg.handlers[:] = handlers
        pkg.setLevel(level)
        pkg.propagate = propagate


def test_unique_auto_stats_fast_path(spark, tmp_path, monkeypatch):
    """auto tier 1: a small file-backed input (plan stats under
    ``_DUP_KEY_CAP * 8`` B) picks the single-job broadcast plan with NO
    eager dup-key job (validator._persisted stays empty); a cap of 8 keys
    (64 B) routes the same input through the eager exact-count tier, whose
    8 dup keys still broadcast — identical verdicts either way."""
    from pandera_unified_validator_spark.operators import validator as vmod

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(i % 8, float(i)) for i in range(100)], "k int, v double"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    schema = SchemaBuilder("t").column("k", "int", unique=True).build()

    fast = SparkValidator(schema)
    r_fast = fast.validate(df)
    assert fast._persisted == []                      # no eager job ran
    assert r_fast.report.metadata["unique_join_plan"] == {"k__unique": "broadcast"}

    monkeypatch.setattr(vmod, "_DUP_KEY_CAP", 8)
    slow = SparkValidator(schema)
    r_slow = slow.validate(df)
    assert len(slow._persisted) == 1                  # eager tier engaged
    assert r_slow.report.metadata["unique_join_plan"] == {"k__unique": "broadcast"}
    a = {c.name: c.n_failed for c in r_fast.report.checks}
    b = {c.name: c.n_failed for c in r_slow.report.checks}
    assert a == b == {"k__unique": 100}               # every key duplicated


def test_collect_samples_one_job_per_validation(spark, dirty):
    """Failing-value samples for ALL failed checks come back from ONE Spark
    job (a union of per-check limited branches — round 4 launched up to 20
    separate jobs), keyed by check name, each bounded by max_samples and
    carrying the key columns plus the check's column."""
    res = make_validator(spark, collect_samples=True, max_samples=3).validate(dirty)
    failed = {c.name for c in res.report.checks if c.n_failed}
    sampled = {c.name: c.samples for c in res.report.checks if c.samples}
    assert set(sampled) == failed
    for name, rows in sampled.items():
        assert 1 <= len(rows) <= 3
        for r in rows:
            assert "doc_id" in r
    # n_tok range check samples carry the offending column value
    ntok = next(c for c in res.report.checks if c.name == "n_tok__ge" and c.samples)
    assert all("n_tok" in s for s in ntok.samples)


def test_samples_keep_native_types(spark):
    """Failing-value samples preserve Spark-native Python types through the
    one-job union (a JSON round-trip stringified timestamps/decimals —
    review round 5): a timestamp key column comes back as datetime."""
    import datetime

    from pandera_unified_validator_spark import SchemaBuilder

    df = spark.createDataFrame(
        [(datetime.datetime(2026, 8, 17, 12, 0), -5.0),
         (datetime.datetime(2026, 8, 17, 13, 0), 2.0)],
        "ts timestamp, v double",
    )
    schema = SchemaBuilder("t").column("v", "float", ge=0.0).build()
    res = SparkValidator(
        schema, key_columns=("ts",), collect_samples=True
    ).validate(df)
    chk = next(c for c in res.report.checks if c.n_failed)
    assert chk.samples and isinstance(chk.samples[0]["ts"], datetime.datetime)
    assert isinstance(chk.samples[0]["v"], float) and chk.samples[0]["v"] == -5.0


def test_check_counts_count_only_unique_matches_validate(spark):
    """Round-7: batch check_counts computes unique totals directly off the
    dup-key aggregate (no per-row join-back, no eager persist). Totals
    must match validate()'s flag-counted report exactly — including NULL
    keys (pass unique, count in n_checked) and the all-unique zero case."""
    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), (None, 4), (None, 5), ("c", 6)],
        "k string, v int",
    )
    schema = (
        SchemaBuilder("t")
        .column("k", "str", unique=True)
        .column("v", "int", unique=True, ge=0)
        .build()
    )
    v = SparkValidator(schema)
    counts = {
        r["check"]: (r["n_failed"], r["n_checked"])
        for r in v.check_counts(df).collect()
    }
    # count-only path: no dup-key set materialized or persisted
    assert v._persisted == []
    rep = SparkValidator(schema).validate(df).report
    expected = {c.name: (c.n_failed, c.n_checked) for c in rep.checks}
    assert counts == expected
    # spot values: 'a' duplicated (2 rows fail), NULL keys pass unique,
    # v all-unique -> 0
    assert counts["k__unique"] == (2, 6)
    assert counts["v__unique"] == (0, 6)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a Spark job group; returns (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_dimension_read_once_per_validator(spark, tmp_path):
    """A dimension under REF_INLINE_CAP is read by one bounded collect on the
    validator's first call; later calls run no job for it, never plan a scan
    of it, and give the same verdicts as a fresh validator per input."""
    dim_path = str(tmp_path / "dim")
    source_dim(spark).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    inputs = [
        token_table(spark, 1500, dirty=True, seed=s, num_partitions=2).cache()
        for s in (1, 2, 3, 4)
    ]
    shared = SparkValidator(token_schema(), ref_checks={"source": dim})
    jobs = []
    for i, df in enumerate(inputs):
        res, n = _jobs_in_group(spark, f"ref_once_{i}", lambda: shared.validate(df))
        jobs.append(n)
        assert res.report.metadata["referential_plan"] == {"source__referential": "inline"}
        plan = res.flags._jdf.queryExecution().optimizedPlan().toString()
        assert dim_path not in plan
        fresh = SparkValidator(token_schema(), ref_checks={"source": dim}).validate(df)
        assert [(c.name, c.n_failed) for c in res.report.checks] == [
            (c.name, c.n_failed) for c in fresh.report.checks
        ]
        assert res.report.n_invalid_rows == fresh.report.n_invalid_rows
        assert res.violations().count() == res.report.n_invalid_rows
    # the first call's extra jobs are exactly the bounded collect's
    _, probe = _jobs_in_group(
        spark,
        "ref_probe",
        lambda: SparkValidator(token_schema(), ref_checks={"source": dim})._inline_keys("source"),
    )
    assert probe >= 1 and jobs[0] == jobs[1] + probe and len(set(jobs[1:])) == 1, jobs
    for df in inputs:
        df.unpersist()


def test_source_dim_is_planned_in_the_jvm(spark):
    """The allowed-values dimension is built without a Python RDD: its
    analyzed plan holds no LogicalRDD, reading it starts no job, and it has
    one string column ``source`` holding each allowed source once."""
    from pandera_unified_validator_spark.tokens import SOURCES

    dim = source_dim(spark)
    plan = dim._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
    assert [(f.name, f.dataType.simpleString()) for f in dim.schema.fields] == [
        ("source", "string")
    ]
    rows, n_jobs = _jobs_in_group(spark, "source_dim", dim.collect)
    assert sorted(r[0] for r in rows) == sorted(SOURCES) and n_jobs == 0


@pytest.mark.parametrize(
    "fact, fact_type, keys, key_type, n_bad",
    [
        # NULL fk passes; NULL key inside the dimension matches nothing;
        # an int fact column against a bigint dimension compares by value
        ([1, 2, 3, None, 7], "int", [1, 2, None, 5], "bigint", 2),
        (["a", "b", None, "zz"], "string", ["a", None, "b"], "string", 1),
        ([1, 2], "bigint", [], "int", 2),
    ],
)
def test_referential_inline_matches_broadcast(
    spark, monkeypatch, fact, fact_type, keys, key_type, n_bad
):
    """The inline key test and the broadcast join count the same failures
    and the same violation rows on NULLs, widened ints and string keys."""
    import pandera_unified_validator_spark.operators.validator as vmod

    df = spark.createDataFrame([(v,) for v in fact], f"k {fact_type}")
    dim = spark.createDataFrame([(v,) for v in keys], f"key {key_type}")
    schema = SchemaBuilder("t").column("k", "int" if fact_type != "string" else "str").build()

    def run():
        v = SparkValidator(schema, ref_checks={"k": dim})
        res = v.validate(df)
        counts = {r["check"]: r["n_failed"] for r in v.check_counts(df).collect()}
        return (
            res.report.metadata["referential_plan"]["k__referential"],
            {c.name: c.n_failed for c in res.report.checks},
            res.violations().count(),
            counts,
        )

    inline = run()
    monkeypatch.setattr(vmod, "REF_INLINE_CAP", -1)  # every dimension joins
    joined = run()
    assert inline[0] == "inline" and joined[0] == "broadcast"
    assert inline[1:] == joined[1:]
    assert inline[1]["k__referential"] == inline[2] == n_bad


def test_referential_tier_above_cap_and_unsafe_types(spark, monkeypatch):
    """A dimension with more than REF_INLINE_CAP distinct keys keeps the
    broadcast join (repeated keys do not count), and so do key types whose literals do not compare like the join
    (floating keys, or a string fact column against int keys)."""
    import pandera_unified_validator_spark.operators.validator as vmod

    monkeypatch.setattr(vmod, "REF_INLINE_CAP", 4)
    df = spark.createDataFrame(
        [(i, float(i), str(i)) for i in range(8)], "k int, f double, s string"
    )
    schema = SchemaBuilder("t").column("k", "int").build()

    def plan(dim, col="k"):
        res = SparkValidator(schema, ref_checks={col: dim}).validate(df)
        got = res.report.metadata["referential_plan"][f"{col}__referential"]
        return got, {c.name: c.n_failed for c in res.report.checks}[f"{col}__referential"]

    assert plan(spark.range(5).toDF("key")) == ("broadcast", 3)      # 5 keys > 4
    assert plan(spark.range(4).toDF("key")) == ("inline", 4)
    # more rows than the cap, but only 3 distinct keys: still inline
    assert plan(spark.range(12).selectExpr("id % 3 AS key")) == ("inline", 5)
    assert plan(spark.range(4).selectExpr("double(id) AS key"), "f") == ("broadcast", 4)
    assert plan(spark.range(4).toDF("key"), "s") == ("broadcast", 4)
