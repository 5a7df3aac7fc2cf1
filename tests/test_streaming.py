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

        def tagged(df, validate=validate):
            # the validation's own jobs go to another group: what is left
            # in "reads" is what the runner's reads start
            sc.setJobGroup("validate", "validate")
            try:
                return validate(df)
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
    # unique is per group, so compare the row-local and referential checks
    got = {c: n for c, n in res.metrics.common_errors.items() if "unique" not in c}
    want = {c.name: c.n_failed for c in whole.checks if c.n_failed and c.check != "unique"}
    assert res.metrics.total_rows == whole.n_rows and got == want
    assert want["source__referential"] > 0


def test_lineage_record_from_earlier_version_resumes(spark, tmp_path):
    """The schema fingerprint is pinned: a lineage record written with the
    same contract by an earlier version of the runner still resumes."""
    p = str(tmp_path / "tok")
    token_table(spark, 400, dirty=True, num_partitions=1).write.parquet(p)
    files = sorted(spark.read.parquet(p).inputFiles())
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    record = {
        "group_id": 0,
        "files": files,
        "n_rows": 400,
        "n_invalid_rows": 3,
        "check_fails": {"n_tok__le": 3},
        "elapsed_sec": 1.0,
        "schema_fp": "1274ad0571b99e44",
    }
    (ckpt / "group-000000.json").write_text(json.dumps(record))
    runner = PartitionedValidationRunner(
        SparkValidator(token_schema(), ref_checks={"source": source_dim(spark)}),
        checkpoint_dir=str(ckpt),
        error_threshold=None,
    )
    assert runner._schema_fingerprint() == "1274ad0571b99e44"
    res = runner.run(spark, p)
    assert [g.resumed for g in res.groups] == [True]
    assert _totals(res.metrics) == (400, 3, {"n_tok__le": 3})
