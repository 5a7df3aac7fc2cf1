"""Partition-group runner, checkpoint/resume, early termination, Structured
Streaming, and source readers — Spark analogue of reference
tests/test_core/test_streaming.py (FIXTURES.md F4)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark import SchemaBuilder, SparkValidator
from pandera_unified_validator_spark.sources.readers import (
    CORRUPT_COL,
    from_records,
    read_csv,
    read_jsonl,
    with_cast_violations,
)
from pandera_unified_validator_spark.streaming.runner import (
    PartitionedValidationRunner,
)
from pandera_unified_validator_spark.streaming.structured import validate_stream
from pandera_unified_validator_spark.tokens import token_table, token_schema, source_dim


def stream_schema():
    # F4: id ge=1, name not-null, value ge=0
    return (
        SchemaBuilder("stream_rows")
        .column("id", "int", ge=1)
        .column("name", "str", nullable=False)
        .column("value", "float", ge=0.0)
        .build()
    )


@pytest.fixture()
def parquet_dir(spark, tmp_path):
    # 12 files, file i has 10 rows; files 8+ are fully invalid (value=-1)
    p = str(tmp_path / "rows")
    for i in range(12):
        rows = [
            (j + 1, f"n{j}", -1.0 if i >= 8 else float(j)) for j in range(10)
        ]
        spark.createDataFrame(rows, "id int, name string, value double").coalesce(
            1
        ).write.mode("append").parquet(p)
    return p


def test_group_loop_all_valid_until_breaker(spark, parquet_dir):
    runner = PartitionedValidationRunner(
        SparkValidator(stream_schema()), error_threshold=0.05, files_per_group=2
    )
    res = runner.run(spark, parquet_dir)
    # 12 files sorted by name; the 4 dirty files' position is deterministic
    assert res.metrics.early_terminated
    assert res.metrics.invalid_rows > 0
    assert not res.is_valid
    assert res.metrics.chunks_processed == len(res.groups)


def test_group_loop_clean(spark, tmp_path):
    p = str(tmp_path / "clean")
    spark.createDataFrame(
        [(i + 1, f"n{i}", float(i)) for i in range(40)],
        "id int, name string, value double",
    ).repartition(4).write.parquet(p)
    runner = PartitionedValidationRunner(
        SparkValidator(stream_schema()), error_threshold=0.05, files_per_group=2
    )
    res = runner.run(spark, p)
    assert res.is_valid and not res.metrics.early_terminated
    assert res.metrics.total_rows == 40


def test_progress_callback(spark, tmp_path):
    p = str(tmp_path / "cb")
    spark.createDataFrame(
        [(1, "a", 1.0)], "id int, name string, value double"
    ).write.parquet(p)
    calls = []
    runner = PartitionedValidationRunner(
        SparkValidator(stream_schema()),
        progress_callback=lambda i, n, m: calls.append((i, n, m.total_rows)),
    )
    runner.run(spark, p)
    assert calls and calls[-1][0] == calls[-1][1]


def test_checkpoint_resume(spark, tmp_path):
    p = str(tmp_path / "resume")
    for i in range(6):
        spark.createDataFrame(
            [(j + 1, f"n{j}", float(j)) for j in range(5)],
            "id int, name string, value double",
        ).coalesce(1).write.mode("append").parquet(p)
    ckpt = str(tmp_path / "ckpt")
    runner = PartitionedValidationRunner(
        SparkValidator(stream_schema()),
        checkpoint_dir=ckpt,
        files_per_group=2,
        error_threshold=None,
    )
    res1 = runner.run(spark, p)
    assert res1.metrics.total_rows == 30
    lineage = sorted(os.listdir(ckpt))
    assert len(lineage) == 3  # one JSON record per group
    # resume: all groups load from lineage, zero Spark jobs re-run
    res2 = runner.run(spark, p)
    assert res2.metrics.total_rows == 30
    assert all(g.resumed for g in res2.groups)
    # corrupt one record → only that group re-validates
    victim = os.path.join(ckpt, lineage[0])
    with open(victim, "w") as f:
        f.write("{torn")
    res3 = runner.run(spark, p)
    assert [g.resumed for g in sorted(res3.groups, key=lambda g: g.group_id)] == [
        False,
        True,
        True,
    ]
    with open(victim) as f:
        json.load(f)  # rewritten atomically and valid again

    # the lineage/metrics log is queryable as a DataFrame (north-rule
    # "metrics log" surface): one row per finished group, totals match
    ldf = runner.lineage_df(spark)
    assert ldf.count() == 3
    agg = ldf.selectExpr("sum(n_rows) r", "sum(n_invalid_rows) i").collect()[0]
    assert agg["r"] == 30 and agg["i"] == res3.metrics.invalid_rows
    assert runner.__class__(
        SparkValidator(stream_schema()), checkpoint_dir=str(tmp_path / "nope")
    ).lineage_df(spark).count() == 0


def test_structured_streaming_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [(1, "a", 1.0), (-5, "b", 2.0), (3, None, -9.0)],
        "id int, name string, value double",
    ).write.parquet(src)
    stream = spark.readStream.schema("id int, name string, value double").parquet(src)
    q, sink = validate_stream(
        stream,
        SparkValidator(stream_schema()),
        violations_path=str(tmp_path / "quarantine"),
        checkpoint_location=str(tmp_path / "ss_ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert sink.metrics.total_rows == 3
    assert sink.metrics.invalid_rows == 2
    quarantined = spark.read.parquet(str(tmp_path / "quarantine"))
    got = {r["id"]: r["failed_checks"] for r in quarantined.collect()}
    assert got[-5] == "id__ge"
    assert got[3] == "name__not_null,value__ge"


def test_read_csv_corrupt_records(spark, tmp_path):
    f = tmp_path / "x.csv"
    f.write_text("id,name,value\n1,a,2.0\nnot,valid,row,extra\n2,b,3.0\n")
    df = read_csv(spark, str(f), stream_schema())
    # Spark disallows plans referencing ONLY the corrupt column — always
    # project data columns alongside it (see readers.py docstring)
    rows = df.select("id", "name", "value", CORRUPT_COL).collect()
    bad = [r for r in rows if r[CORRUPT_COL] is not None]
    assert len(bad) == 1 and "extra" in bad[0][CORRUPT_COL]
    assert sum(r[CORRUPT_COL] is None for r in rows) == 2


def test_read_jsonl_corrupt_records(spark, tmp_path):
    f = tmp_path / "x.jsonl"
    f.write_text('{"id": 1, "name": "a", "value": 2.0}\n{broken json\n')
    df = read_jsonl(spark, str(f), stream_schema())
    rows = df.select("id", CORRUPT_COL).collect()
    assert sum(r[CORRUPT_COL] is not None for r in rows) == 1
    ok = [r for r in rows if r[CORRUPT_COL] is None]
    assert ok[0]["id"] == 1


def test_from_records_and_cast_strictness(spark):
    df = from_records(spark, [{"id": "7", "name": "a"}, {"id": "oops", "name": "b"}])
    schema = SchemaBuilder("t").column("id", "int").column("name", "str").build()
    casted, flags = with_cast_violations(df, schema)
    assert flags == ["id__cast_ok", "name__cast_ok"]
    rows = {r["name"]: (r["id"], r["id__cast_ok"]) for r in casted.collect()}
    assert rows["a"] == (7, True)
    assert rows["b"] == (None, False)  # Pydantic-strict: "oops" is not an int


def test_token_table_group_runner_end_to_end(spark, tmp_path):
    # the north-star loop: token table → parquet → group validation + resume
    p = str(tmp_path / "tok")
    token_table(spark, 2000, dirty=True, num_partitions=4).write.parquet(p)
    runner = PartitionedValidationRunner(
        SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)}),
        checkpoint_dir=str(tmp_path / "tok_ckpt"),
        files_per_group=1,
        error_threshold=None,
    )
    res = runner.run(spark, p)
    assert res.metrics.total_rows == 2000
    assert res.metrics.invalid_rows > 0
    assert "n_tok__le" in dict(res.metrics.top_errors())
    res2 = runner.run(spark, p)
    assert all(g.resumed for g in res2.groups)
    assert res2.metrics.invalid_rows == res.metrics.invalid_rows


def test_streaming_unique_skip_is_loud(spark, tmp_path, caplog):
    """unique=True on an unbounded stream is undefined and skipped — but the
    skip must surface (round-3 verdict: a silently weaker contract), both as
    a logging warning and in validator.warnings; the same schema on a
    bounded batch runs the unique check and reports no warning."""
    import logging

    schema = (
        SchemaBuilder("u")
        .column("id", "int", unique=True)
        .column("value", "float")
        .build()
    )
    src = str(tmp_path / "uniq_src")
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0)], "id int, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema("id int, value double").parquet(src)
    v = SparkValidator(schema)
    with caplog.at_level(logging.WARNING):
        annotated, checks, _ = v.annotate(stream)
    assert all(c.check != "unique" for c in checks)
    assert len(v.warnings) == 1 and "foreachBatch" in v.warnings[0]
    assert any("skipped" in r.message for r in caplog.records)
    # bounded batch: check runs, warning absent, and it lands in the report
    res = v.validate(spark.read.parquet(src))
    assert v.warnings == [] and res.report.warnings == ()
    by = {c.name: c.n_failed for c in res.report.checks}
    assert by["id__unique"] == 2


def test_iceberg_snapshot_pinned_resume(spark, tmp_path, monkeypatch):
    """run_iceberg on a SIMULATED catalog (monkeypatched read_iceberg):
    lineage markers carry (table, snapshot, partition), so re-running at the
    same snapshot resumes every partition from checkpoint, while a LATER
    snapshot (rows appended since) invalidates the markers and re-validates
    — exactly-once against a moving table."""
    import pandera_unified_validator_spark.sources.iceberg as ice

    store = str(tmp_path / "iceberg_sim")
    # snapshot 1: 3 partitions x 4 rows; snapshot 2 appends 2 bad rows to p0
    snap1 = [(i, f"p{i % 3}", float(i), 1) for i in range(12)]
    snap2 = [(100, "p0", -1.0, 2), (101, "p0", -2.0, 2)]
    spark.createDataFrame(
        snap1 + snap2, "id int, part string, value double, seq int"
    ).write.parquet(store)

    def fake_read_iceberg(spark_, table, *, snapshot_id=None, as_of_timestamp=None):
        assert table == "lake.db.tokens"
        df = spark_.read.parquet(store)
        return df.filter(F.col("seq") <= snapshot_id).drop("seq")

    monkeypatch.setattr(ice, "read_iceberg", fake_read_iceberg)

    schema = (
        SchemaBuilder("t").column("id", "int").column("value", "float", ge=0.0).build()
    )
    ckpt = str(tmp_path / "ice_ckpt")
    runner = PartitionedValidationRunner(
        SparkValidator(schema), checkpoint_dir=ckpt, error_threshold=None
    )
    r1 = runner.run_iceberg(
        spark, "lake.db.tokens", partition_col="part", snapshot_id=1
    )
    assert r1.metrics.total_rows == 12 and r1.metrics.invalid_rows == 0
    assert [g.resumed for g in r1.groups] == [False, False, False]
    assert all("@1#" in g.files[0] for g in r1.groups)

    # same snapshot again: every partition resumes from the lineage log
    r2 = runner.run_iceberg(
        spark, "lake.db.tokens", partition_col="part", snapshot_id=1
    )
    assert [g.resumed for g in r2.groups] == [True, True, True]
    assert r2.metrics.total_rows == 12

    # later snapshot: markers differ -> re-validate, appended bad rows caught
    r3 = runner.run_iceberg(
        spark, "lake.db.tokens", partition_col="part", snapshot_id=2
    )
    assert [g.resumed for g in r3.groups] == [False, False, False]
    assert r3.metrics.total_rows == 14 and r3.metrics.invalid_rows == 2


def test_iceberg_unpinned_run_resolves_current_snapshot(spark, tmp_path, monkeypatch):
    """snapshot_id=None must NOT stamp lineage markers with a symbolic
    "latest" (round-4 wrote '@None', so a resume could skip partitions of a
    table that had moved): the runner resolves the current snapshot up
    front and embeds the concrete id — markers at snapshot 1, and when the
    table advances to snapshot 2 an unpinned re-run re-validates instead of
    resuming."""
    import pandera_unified_validator_spark.sources.iceberg as ice

    store = str(tmp_path / "iceberg_sim2")
    snap1 = [(i, f"p{i % 2}", float(i), 1) for i in range(8)]
    snap2 = [(100, "p0", -1.0, 2)]
    spark.createDataFrame(
        snap1 + snap2, "id int, part string, value double, seq int"
    ).write.parquet(store)

    current = {"snap": 1}

    def fake_read_iceberg(spark_, table, *, snapshot_id=None, as_of_timestamp=None):
        assert snapshot_id is not None  # the runner must have pinned
        return (
            spark_.read.parquet(store)
            .filter(F.col("seq") <= snapshot_id)
            .drop("seq")
        )

    def fake_current_snapshot(spark_, table):
        return current["snap"]

    monkeypatch.setattr(ice, "read_iceberg", fake_read_iceberg)
    monkeypatch.setattr(ice, "current_snapshot_id", fake_current_snapshot)

    schema = (
        SchemaBuilder("t").column("id", "int").column("value", "float", ge=0.0).build()
    )
    runner = PartitionedValidationRunner(
        SparkValidator(schema),
        checkpoint_dir=str(tmp_path / "ice_ckpt2"),
        error_threshold=None,
    )
    r1 = runner.run_iceberg(spark, "lake.db.tokens", partition_col="part")
    assert all("@1#" in g.files[0] for g in r1.groups)
    assert r1.metrics.total_rows == 8

    # table unchanged: unpinned re-run resolves to the same snapshot, resumes
    r2 = runner.run_iceberg(spark, "lake.db.tokens", partition_col="part")
    assert [g.resumed for g in r2.groups] == [True, True]

    # table moved: unpinned re-run resolves to snapshot 2 and re-validates
    current["snap"] = 2
    r3 = runner.run_iceberg(spark, "lake.db.tokens", partition_col="part")
    assert all("@2#" in g.files[0] for g in r3.groups)
    assert [g.resumed for g in r3.groups] == [False, False]
    assert r3.metrics.total_rows == 9 and r3.metrics.invalid_rows == 1


def test_iceberg_null_partition_is_validated(spark, tmp_path, monkeypatch):
    """A NULL partition value is a group of its own: its rows are read,
    tagged and counted like any other partition's, so the runner reports
    what validate() of the snapshot reports."""
    import pandera_unified_validator_spark.sources.iceberg as ice

    snapshot = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, -1.0), (3, None, -2.0)],
        "id int, part string, value double",
    )
    monkeypatch.setattr(ice, "read_iceberg", lambda spark_, table, **kw: snapshot)
    schema = SchemaBuilder("t").column("id", "int").column("value", "float", ge=0.0).build()
    whole = SparkValidator(schema).validate(snapshot).report
    res = PartitionedValidationRunner(SparkValidator(schema), error_threshold=None).run_iceberg(
        spark, "lake.db.tokens", partition_col="part", snapshot_id=1
    )
    assert (whole.n_rows, whole.n_invalid_rows) == (3, 2)
    assert (res.metrics.total_rows, res.metrics.invalid_rows) == (3, 2)
    assert sorted(g.n_rows for g in res.groups) == [1, 2]


def test_runner_report_lists_each_schema_error_once(spark, tmp_path):
    """A column the schema wants is missing from every group: the runner's
    report names it once, as validate() of the whole path does, not once
    per group."""
    p = str(tmp_path / "rows")
    spark.createDataFrame(
        [(i, float(i)) for i in range(1, 41)], "id int, value double"
    ).repartition(4).write.parquet(p)
    validator = SparkValidator(stream_schema())
    whole = validator.validate(spark.read.parquet(p)).report
    res = PartitionedValidationRunner(validator, files_per_group=1, error_threshold=None).run(
        spark, p
    )
    assert len(res.groups) >= 4
    assert whole.errors == ("column 'name' missing from input",)
    assert res.report.errors == whole.errors


def test_read_orc_roundtrip(spark, tmp_path):
    from pandera_unified_validator_spark.sources.readers import read_orc

    p = str(tmp_path / "orc")
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -3.0)], "id int, name string, value double"
    ).write.orc(p)
    df = read_orc(spark, p, columns=["id", "value"])
    assert df.columns == ["id", "value"] and df.count() == 2
    schema = SchemaBuilder("t").column("value", "float", ge=0.0).build()
    rep = SparkValidator(schema).validate(read_orc(spark, p)).report
    assert {c.name: c.n_failed for c in rep.checks}["value__ge"] == 1


def test_read_text_corpus_modes(spark, tmp_path):
    from pandera_unified_validator_spark.sources.readers import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first doc body\nsecond line")
    (d / "b.txt").write_text("another document")
    whole = read_text_corpus(spark, str(d), whole_files=True).collect()
    docs = {r["doc_id"].rsplit("/", 1)[-1]: r["text"] for r in whole}
    assert docs["a.txt"] == "first doc body\nsecond line"
    assert docs["b.txt"] == "another document"

    lines = read_text_corpus(spark, str(d), whole_files=False).collect()
    assert {r["text"] for r in lines} == {
        "first doc body", "second line", "another document"
    }
    assert all("#" in r["doc_id"] for r in lines)
    # doc ids feed the corpus operators directly
    from pandera_unified_validator_spark.operators.text import repetition_scores

    rep = repetition_scores(
        read_text_corpus(spark, str(d)), "doc_id", "text", n=2
    ).collect()
    assert len(rep) == 2 and all(r["repetition_ratio"] == 0.0 for r in rep)


def test_resume_invalidated_by_schema_change(spark, tmp_path):
    """Lineage records carry a schema fingerprint: resuming with a CHANGED
    validation contract re-validates every group instead of silently
    reusing verdicts computed under the old schema; resuming with the same
    contract still skips."""
    src = str(tmp_path / "rows")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id int, value double"
    ).coalesce(2).write.parquet(src)
    ckpt = str(tmp_path / "ck")

    loose = SchemaBuilder("t").column("value", "float", ge=0.0).build()
    r1 = PartitionedValidationRunner(
        SparkValidator(loose), checkpoint_dir=ckpt, error_threshold=None
    ).run(spark, src)
    assert r1.metrics.invalid_rows == 0
    assert all(not g.resumed for g in r1.groups)

    # tightened contract: ge=10 fails half the rows — a stale resume would
    # keep reporting 0 invalid
    tight = SchemaBuilder("t").column("value", "float", ge=10.0).build()
    r2 = PartitionedValidationRunner(
        SparkValidator(tight), checkpoint_dir=ckpt, error_threshold=None
    ).run(spark, src)
    assert all(not g.resumed for g in r2.groups)      # fingerprint mismatch
    assert r2.metrics.invalid_rows == 10

    r3 = PartitionedValidationRunner(
        SparkValidator(tight), checkpoint_dir=ckpt, error_threshold=None
    ).run(spark, src)
    assert all(g.resumed for g in r3.groups)          # same contract resumes
    assert r3.metrics.invalid_rows == 10


def _totals(metrics):
    return metrics.total_rows, metrics.invalid_rows, dict(metrics.common_errors)


def test_runner_groups_match_whole_table_and_skip_inference(spark, tmp_path):
    """Every group is read with the table's schema: the run starts no
    schema-inference job beyond the one for the whole path, and the totals
    for any files_per_group equal one whole-table validate (the dirty
    table's duplicate pairs never straddle a file at this size)."""
    p = str(tmp_path / "tok")
    token_table(spark, 2000, dirty=True, num_partitions=4).write.parquet(p)
    whole = SparkValidator(
        token_schema(), ref_checks={"source": source_dim(spark)}
    ).validate(spark.read.parquet(p)).report
    want = (
        whole.n_rows,
        whole.n_invalid_rows,
        {c.name: c.n_failed for c in whole.checks if c.n_failed},
    )
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    base_jobs = jobs("read_whole", lambda: spark.read.parquet(p))
    for fpg in (1, 2, 4):
        validator = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
        validate = validator.validate

        def tagged(df, validate=validate, **hooks):
            # the validation's own jobs go to another group: what is left
            # in "reads" is what the runner's reads start
            sc.setJobGroup("validate", "validate")
            try:
                return validate(df, **hooks)
            finally:
                sc.setJobGroup(f"reads_{fpg}", "reads")

        validator.validate = tagged
        runner = PartitionedValidationRunner(
            validator, files_per_group=fpg, error_threshold=None
        )
        out = []
        assert jobs(f"reads_{fpg}", lambda: out.append(runner.run(spark, p))) == base_jobs
        res = out[0]
        assert len(res.groups) == -(-4 // fpg)
        assert _totals(res.metrics) == want, fpg
        merged = {c.name: c.n_failed for c in res.report.checks if c.n_failed}
        assert merged == dict(res.metrics.common_errors), fpg


def test_runner_partitioned_layout_reads_partition_columns(spark, tmp_path):
    """A directory partitioned by a checked column: every group still sees
    that column (read with the table's schema and basePath), so the totals
    equal the whole-table validate instead of NULL-filled partition keys."""
    p = str(tmp_path / "by_source")
    token_table(spark, 1200, dirty=True, num_partitions=2).write.partitionBy(
        "source"
    ).parquet(p)
    v = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
    whole = v.validate(spark.read.parquet(p)).report
    res = PartitionedValidationRunner(v, files_per_group=1, error_threshold=None).run(spark, p)
    assert len(res.groups) > 1 and res.report.errors == ()
    want = {c.name: c.n_failed for c in whole.checks if c.n_failed}
    assert res.metrics.total_rows == whole.n_rows
    assert dict(res.metrics.common_errors) == want
    assert want["source__referential"] > 0


def test_lineage_record_from_earlier_version_resumes(spark, tmp_path):
    """The schema fingerprint is pinned: a lineage record written with the
    same contract by an earlier version of the runner still resumes when
    the schema has no unique column. Such a record has no
    ``unique_scope``: it counted unique within its group only, so with a
    unique column its group is validated again."""
    p = str(tmp_path / "tok")
    token_table(spark, 400, dirty=True, num_partitions=1).write.parquet(p)
    files = sorted(spark.read.parquet(p).inputFiles())
    with_unique = token_schema()
    no_unique = token_schema()
    no_unique.columns["doc_id"].unique = False
    for schema, fp, resumes in (
        (no_unique, "08d770df729f01f5", True),
        (with_unique, "1274ad0571b99e44", False),
    ):
        ckpt = tmp_path / f"ckpt_{fp}"
        ckpt.mkdir()
        record = {
            "group_id": 0,
            "files": files,
            "n_rows": 400,
            "n_invalid_rows": 3,
            "check_fails": {"n_tok__le": 3},
            "elapsed_sec": 1.0,
            "schema_fp": fp,
        }
        (ckpt / "group-000000.json").write_text(json.dumps(record))
        validator = SparkValidator(schema, ref_checks={"source": source_dim(spark)})
        runner = PartitionedValidationRunner(
            validator, checkpoint_dir=str(ckpt), error_threshold=None
        )
        assert runner._schema_fingerprint() == fp
        res = runner.run(spark, p)
        assert [g.resumed for g in res.groups] == [resumes]
        if resumes:
            assert _totals(res.metrics) == (400, 3, {"n_tok__le": 3})
        else:
            whole = validator.validate(spark.read.parquet(p)).report
            assert _totals(res.metrics) == (
                400,
                whole.n_invalid_rows,
                {c.name: c.n_failed for c in whole.checks if c.n_failed},
            )
            rewritten = json.loads((ckpt / "group-000000.json").read_text())
            assert "unique_scope" in rewritten
            assert [g.resumed for g in runner.run(spark, p).groups] == [True]


@pytest.mark.parametrize("fpg", [0, -1])
def test_runner_rejects_files_per_group_below_one(fpg):
    """A group must hold at least one file: 0 and negative values fail at
    construction instead of validating nothing (or crashing in run())."""
    with pytest.raises(ValueError, match="files_per_group"):
        PartitionedValidationRunner(SparkValidator(stream_schema()), files_per_group=fpg)


def test_dataframe_groups_share_the_group_loop(spark, tmp_path):
    """Micro-batch DataFrames go through the same loop as file groups:
    totals sum to one validate of their union, the callback fires once per
    batch, the breaker stops early, and no lineage is written or resumed."""
    schema = "id int, name string, value double"
    batches = [
        spark.createDataFrame([(i + 1, f"n{i}", float(i)) for i in range(10)], schema),
        spark.createDataFrame(
            [(i + 1, None if i < 3 else f"n{i}", -1.0 if i < 5 else 1.0) for i in range(10)],
            schema,
        ),
        spark.createDataFrame([(0, "z", 2.0), (4, "y", 3.0)], schema),
    ]
    union = batches[0].unionByName(batches[1]).unionByName(batches[2])
    whole = SparkValidator(stream_schema()).validate(union).report
    want = (
        whole.n_rows,
        whole.n_invalid_rows,
        {c.name: c.n_failed for c in whole.checks if c.n_failed},
    )

    ckpt = tmp_path / "ckpt"
    calls = []
    runner = PartitionedValidationRunner(
        SparkValidator(stream_schema()),
        checkpoint_dir=str(ckpt),
        error_threshold=None,
        progress_callback=lambda i, n, m: calls.append((i, n)),
    )
    for _ in range(2):
        res = runner.run_dataframe_groups(spark, batches)
        assert _totals(res.metrics) == want
        assert res.report.n_rows == whole.n_rows
        assert [(g.group_id, g.files, g.resumed) for g in res.groups] == [
            (0, (), False),
            (1, (), False),
            (2, (), False),
        ]
        assert not list(ckpt.glob("group-*.json"))
    assert calls == [(1, 3), (2, 3), (3, 3)] * 2

    calls.clear()
    runner.error_threshold = 0.05
    res = runner.run_dataframe_groups(spark, batches)
    assert res.metrics.early_terminated and not res.is_valid
    assert len(res.groups) == 2 and calls == [(1, 3), (2, 3)]
    assert res.metrics.total_rows == 20


def _write_shared_ids(spark, p):
    """Four dirty token files, then a fifth that repeats ten doc_ids of the
    others: the repeats straddle files whatever the file order."""
    token_table(spark, 2000, dirty=True, num_partitions=4).write.parquet(p)
    df = spark.read.parquet(p)
    repeats = df.filter(F.col("doc_id").isNotNull()).orderBy("doc_id").limit(10).collect()
    spark.createDataFrame(repeats, df.schema).coalesce(1).write.mode("append").parquet(p)


@pytest.mark.parametrize("fpg", [1, 2, 5])
def test_runner_checks_unique_over_the_run(spark, tmp_path, fpg):
    """A doc_id repeated across files is flagged whatever files_per_group
    is, cold and after a resume that lost every other lineage record: the
    runner's totals and per-check counts equal one validate() of the whole
    path, and so does its report, which lists each check once."""
    p = str(tmp_path / "shared_ids")
    _write_shared_ids(spark, p)
    validator = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
    whole = validator.validate(spark.read.parquet(p)).report
    want = (
        whole.n_rows,
        whole.n_invalid_rows,
        {c.name: c.n_failed for c in whole.checks if c.n_failed},
    )
    assert want[2]["doc_id__unique"] >= 20
    ckpt = tmp_path / "ckpt"
    runner = PartitionedValidationRunner(
        validator, checkpoint_dir=str(ckpt), files_per_group=fpg, error_threshold=None
    )
    cold = runner.run(spark, p)
    assert len(cold.groups) == -(-5 // fpg)
    for path in sorted(ckpt.glob("group-*.json"))[::2]:
        path.unlink()
    resumed = runner.run(spark, p)
    assert sum(g.resumed for g in resumed.groups) == len(cold.groups) // 2
    for res in (cold, resumed):
        assert _totals(res.metrics) == want
    merged = {c.name: c.n_failed for c in cold.report.checks if c.n_failed}
    assert (cold.report.n_rows, cold.report.n_invalid_rows, merged) == want
    assert [c.name for c in cold.report.checks] == [c.name for c in whole.checks]


def test_submit_job_violations_match_the_report(spark, tmp_path, monkeypatch):
    """``tools/submit_job.py --violations`` writes exactly the rows its
    report counts as invalid, also when duplicate doc_ids straddle file
    groups."""
    import importlib.util
    import sys

    p = str(tmp_path / "shared_ids")
    _write_shared_ids(spark, p)
    tool = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "submit_job.py")
    spec = importlib.util.spec_from_file_location("submit_job", tool)
    submit_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit_job)
    out, report = str(tmp_path / "violations"), str(tmp_path / "report.json")
    monkeypatch.setattr(
        sys,
        "argv",
        ["submit_job.py", "--input", p, "--files-per-group", "1",
         "--violations", out, "--report", report],
    )
    assert submit_job.main() == 1
    with open(report) as f:
        invalid = json.load(f)["metrics"]["invalid_rows"]
    assert invalid > 0 and spark.read.parquet(out).count() == invalid


def test_runner_group_tag_survives_uri_encoded_paths(spark, tmp_path):
    """A partitioned layout under a directory whose name holds a space and a
    '%': each row's group is found from its file's URI, so no row is left
    without a group (the runner raises on one) and the totals at one file
    per group equal validate() of the whole path."""
    root = str(tmp_path / "odd dir %41")
    token_table(spark, 1200, dirty=True, num_partitions=2).withColumn(
        "k", (F.col("n_tok") % 2).cast("int")
    ).write.partitionBy("k").parquet(root)
    v = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
    whole = v.validate(spark.read.parquet(root)).report
    res = PartitionedValidationRunner(v, files_per_group=1, error_threshold=None).run(
        spark, root
    )
    assert len(res.groups) >= 4 and all(g.n_rows > 0 for g in res.groups)
    assert _totals(res.metrics) == (
        whole.n_rows,
        whole.n_invalid_rows,
        {c.name: c.n_failed for c in whole.checks if c.n_failed},
    )


def test_runner_wave_costs_the_jobs_of_one_group(spark, tmp_path):
    """Unfinished groups are validated in one wave: a cold run of four
    groups starts as many validation jobs as a run of one group."""
    p = str(tmp_path / "tok")
    token_table(spark, 2000, dirty=True, num_partitions=4).write.parquet(p)
    sc = spark.sparkContext

    def validation_jobs(fpg):
        group = f"wave_validate_{fpg}"
        validator = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
        validator.validate(spark.read.parquet(p))  # resolve the dimension first
        validate = validator.validate

        def tagged(df, **hooks):
            sc.setJobGroup(group, group)
            try:
                return validate(df, **hooks)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        validator.validate = tagged
        res = PartitionedValidationRunner(
            validator, files_per_group=fpg, error_threshold=None
        ).run(spark, p)
        assert len(res.groups) == 4 // fpg
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert validation_jobs(1) == validation_jobs(4) > 0


def test_breaker_folds_a_wave_group_by_group(spark, parquet_dir, tmp_path):
    """Early stop inside a wave reports exactly what a group-at-a-time loop
    would: the same groups, metrics, callbacks and lineage records, and no
    group after the one that tripped the breaker."""
    files = sorted(spark.read.parquet(parquet_dir).inputFiles())
    groups = [files[i : i + 2] for i in range(0, len(files), 2)]
    reader = spark.read.schema(spark.read.parquet(parquet_dir).schema)
    want_groups, want_calls, seen = [], [], [0, 0]
    for gi, g in enumerate(groups):
        rep = SparkValidator(stream_schema()).validate(reader.load(g)).report
        fails = {c.name: c.n_failed for c in rep.checks if c.n_failed}
        want_groups.append((gi, tuple(g), rep.n_rows, rep.n_invalid_rows, fails))
        seen[0] += rep.n_rows
        seen[1] += rep.n_invalid_rows
        want_calls.append((gi + 1, len(groups), seen[0]))
        if seen[1] / seen[0] > 0.05:
            break

    ckpt = tmp_path / "ckpt"
    calls = []
    res = PartitionedValidationRunner(
        SparkValidator(stream_schema()),
        checkpoint_dir=str(ckpt),
        error_threshold=0.05,
        files_per_group=2,
        progress_callback=lambda i, n, m: calls.append((i, n, m.total_rows)),
    ).run(spark, parquet_dir)
    got = [(g.group_id, g.files, g.n_rows, g.n_invalid_rows, g.check_fails) for g in res.groups]
    assert got == want_groups and calls == want_calls
    assert res.metrics.early_terminated and res.metrics.chunks_processed == len(want_groups)
    assert (res.metrics.total_rows, res.metrics.invalid_rows) == tuple(seen)
    assert (res.report.n_rows, res.report.n_invalid_rows) == tuple(seen)
    records = sorted(ckpt.glob("group-*.json"))
    assert [json.loads(r.read_text())["group_id"] for r in records] == [
        g[0] for g in want_groups
    ]


def test_runner_revalidates_unique_groups_after_an_append(spark, tmp_path):
    """A file appended to the path after a run holds doc_ids of the earlier
    files. Every group's unique counts change, so no record resumes, and the
    totals equal validate() of the whole path; without a unique column the
    unchanged groups still resume."""
    p = str(tmp_path / "tok")
    token_table(spark, 1600, dirty=True, num_partitions=4).write.parquet(p)
    df = spark.read.parquet(p)
    repeats = df.filter(F.col("doc_id").isNotNull()).orderBy("doc_id").limit(10).collect()
    extra = str(tmp_path / "extra")
    spark.createDataFrame(repeats, df.schema).coalesce(1).write.parquet(extra)
    (part,) = [f for f in os.listdir(extra) if f.endswith(".parquet")]
    no_unique = token_schema()
    no_unique.columns["doc_id"].unique = False
    runners = {}
    for schema, resumed in ((token_schema(), 0), (no_unique, 4)):
        validator = SparkValidator(schema, ref_checks={"source": source_dim(spark)})
        runner = PartitionedValidationRunner(
            validator,
            checkpoint_dir=str(tmp_path / f"ckpt_{resumed}"),
            files_per_group=1,
            error_threshold=None,
        )
        assert len(runner.run(spark, p).groups) == 4
        runners[resumed] = validator, runner
    # the appended file sorts last, so the first four groups keep their files
    os.replace(os.path.join(extra, part), os.path.join(p, "part-99999-append.parquet"))
    for resumed, (validator, runner) in runners.items():
        res = runner.run(spark, p)
        whole = validator.validate(spark.read.parquet(p)).report
        assert len(res.groups) == 5 and sum(g.resumed for g in res.groups) == resumed
        assert _totals(res.metrics) == (
            whole.n_rows,
            whole.n_invalid_rows,
            {c.name: c.n_failed for c in whole.checks if c.n_failed},
        )


def _input_records(spark, group):
    """Rows read from files or cached blocks by the jobs of job group
    ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    attempts = [store.lastStageAttempt(s) for s in stages]
    return sum(a.inputRecords() for a in attempts if a.status().toString() == "COMPLETE")


def test_runner_waves_share_one_dup_key_set(spark, tmp_path, monkeypatch):
    """Twelve groups make two waves. The dup keys are counted once per call:
    a cold call reads the key column once besides the rows of its waves.
    The second wave reads the set from the cache, which the call releases
    when it returns. The totals equal validate() of the whole path, cold
    and half-resumed."""
    from collections import Counter

    import pandera_unified_validator_spark.operators.validator as vmod
    from pandera_unified_validator_spark.utils.cache import registry

    p = str(tmp_path / "tok")
    token_table(spark, 2200, dirty=True, num_partitions=11).write.parquet(p)
    df = spark.read.parquet(p)
    repeats = df.filter(F.col("doc_id").isNotNull()).orderBy("doc_id").limit(10).collect()
    spark.createDataFrame(repeats, df.schema).coalesce(1).write.mode("append").parquet(p)
    validator = SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)})
    whole = validator.validate(spark.read.parquet(p)).report
    want = (
        whole.n_rows,
        whole.n_invalid_rows,
        {c.name: c.n_failed for c in whole.checks if c.n_failed},
    )
    assert want[2]["doc_id__unique"] >= 20
    calls = []
    dup_counts = vmod._dup_counts
    monkeypatch.setattr(vmod, "_dup_counts", lambda *a: calls.append(a) or dup_counts(*a))
    ckpt = tmp_path / "ckpt"
    runner = PartitionedValidationRunner(
        validator, checkpoint_dir=str(ckpt), files_per_group=1, error_threshold=None
    )
    sc = spark.sparkContext
    before = Counter(registry.labels())  # other validators' sets may be cached
    sc.setJobGroup("two_waves", "two_waves")
    try:
        cold = runner.run(spark, p)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(cold.groups) == 12 and len(calls) == 1
    assert not Counter(registry.labels()) - before
    # each wave reads its own rows, the key scan all of them, and the
    # second wave's join reads the small cached set
    assert 2 * whole.n_rows <= _input_records(spark, "two_waves") < 3 * whole.n_rows
    for path in sorted(ckpt.glob("group-*.json"))[::2]:
        path.unlink()
    resumed = runner.run(spark, p)
    assert sum(g.resumed for g in resumed.groups) == 6 and len(calls) == 2
    for res in (cold, resumed):
        assert _totals(res.metrics) == want


def test_wave_samples_stay_with_their_group(spark):
    """Failing samples are drawn from the whole wave, and each goes to the
    group that holds its row: after an early stop the report shows no
    sample of a group it does not report."""
    schema = "id int, name string, value double"
    batches = [
        spark.createDataFrame([(i, f"n{i}", 1.0) for i in range(1, 11)], schema),
        spark.createDataFrame([(100 + i, "m", -1.0 if i == 0 else 1.0) for i in range(5)], schema),
        spark.createDataFrame([(200 + i, "z", -1.0) for i in range(10)], schema),
    ]
    res = PartitionedValidationRunner(
        SparkValidator(
            stream_schema(), key_columns=("id",), collect_samples=True, max_samples=20
        ),
        error_threshold=0.05,
    ).run_dataframe_groups(spark, batches)
    assert res.metrics.early_terminated and len(res.groups) == 2
    (check,) = [c for c in res.report.checks if c.n_failed]
    assert check.samples == ({"id": 100, "value": -1.0},)
