"""CLI surface tests."""

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def users_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "users.csv"
    p.write_text(
        "id,email,age\n"
        "1,a@x.com,30\n"
        "2,bad-email,45\n"
        "3,c@y.org,150\n"
    )
    return str(p)


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "pandera_unified_validator_spark", *args],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )


def test_cli_schema_then_validate(users_csv, tmp_path):
    schema_path = str(tmp_path / "schema.json")
    r = run_cli("schema", users_csv, "--format", "csv", "--exact", "--output", schema_path)
    assert r.returncode == 0, r.stderr[-2000:]
    schema = json.load(open(schema_path))
    cols = {c["name"] for c in schema["columns"]}
    assert {"id", "email", "age"} <= cols

    # tighten: id ≤ 2, age ≤ 120, email pattern → row 2 and 3 must fail
    schema["columns"] = [
        {"name": "id", "dtype": "int", "nullable": False, "unique": True, "le": 2},
        {"name": "email", "dtype": "str", "pattern": r"^[^@\s]+@[^@\s]+\.[a-z]+$"},
        {"name": "age", "dtype": "int", "ge": 0, "le": 120},
    ]
    with open(schema_path, "w") as f:
        json.dump(schema, f)
    report_path = str(tmp_path / "report.json")
    viol_path = str(tmp_path / "violations")
    r2 = run_cli(
        "validate", users_csv, "--schema", schema_path, "--format", "csv",
        "--key", "id", "--output", report_path, "--violations", viol_path,
    )
    assert r2.returncode == 1  # invalid data → nonzero exit
    rep = json.load(open(report_path))
    by = {c["name"]: c["n_failed"] for c in rep["checks"]}
    assert by["email__pattern"] == 1 and by["age__le"] == 1 and by["id__le"] == 1
    assert rep["summary"]["n_invalid_rows"] == 2
    # violation rows on disk carry the failed labels sorted, comma-joined
    rows = pq.read_table(viol_path).to_pylist()
    assert {r["id"]: r["failed_checks"] for r in rows} == {
        2: "email__pattern",
        3: "age__le,id__le",
    }


def test_cli_profile(users_csv, tmp_path):
    out = str(tmp_path / "profile.json")
    r = run_cli("profile", users_csv, "--format", "csv", "--exact", "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    prof = json.load(open(out))
    assert prof["n_rows"] == 3
    assert prof["columns"]["age"]["max"] == 150


def test_cli_dedup_and_sample(spark, tmp_path):
    src = str(tmp_path / "corpus")
    rows = [(i, "s1" if i % 2 else "s2", f"unique text number {i} padded") for i in range(40)]
    rows += [(100, "s1", "unique text number 1 padded")]   # exact dup of doc 1
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.parquet(src)

    out1 = str(tmp_path / "deduped")
    r = run_cli("dedup", src, "--output", out1, "--columns", "text", "--id", "doc_id")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kept 40/41" in r.stdout.replace(",", "")
    deduped = spark.read.parquet(out1)
    ids = {x["doc_id"] for x in deduped.select("doc_id").collect()}
    assert 100 not in ids and 1 in ids            # min-doc_id survivor

    out2 = str(tmp_path / "near")
    r2 = run_cli("dedup", src, "--output", out2, "--near", "--threshold", "0.8",
                 "--num-hashes", "32", "--bands", "16")
    assert r2.returncode == 0, r2.stderr[-2000:]
    near = spark.read.parquet(out2)
    nids = {x["doc_id"] for x in near.select("doc_id").collect()}
    assert 100 not in nids and 1 in nids          # near-dup keep-one

    out3 = str(tmp_path / "sampled")
    r3 = run_cli("sample", src, "--output", out3, "--key", "doc_id",
                 "--strata", "source", "--fractions", "s1=1.0,s2=0.5")
    assert r3.returncode == 0, r3.stderr[-2000:]
    samp = spark.read.parquet(out3)
    # the printed count is the written output's
    assert f"sampled {samp.count()} rows" in r3.stdout.replace(",", "")
    by = {x["source"]: x["n"] for x in
          samp.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by["s1"] == 21                          # whole stratum kept
    assert 0 < by.get("s2", 0) < 20                # ~half


def test_cli_text_corpus_dedup(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("the same document body here")
    (d / "b.txt").write_text("the same document body here")
    (d / "c.txt").write_text("a different document entirely")
    out = str(tmp_path / "out")
    r = run_cli("dedup", str(d), "--format", "text", "--output", out,
                "--columns", "text", "--id", "doc_id")
    assert r.returncode == 0, r.stderr[-2000:]
    kept = spark.read.parquet(out)
    assert kept.count() == 2  # the two identical files collapse to one


def test_submit_job_writes_violations_on_resumed_run(spark, tmp_path, monkeypatch):
    """A second ``submit_job`` run over the same checkpoint resumes every
    group, so it validates nothing and has no merged report; it must still
    write the violation rows of the invalid table."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "submit_job.py")
    spec = importlib.util.spec_from_file_location("submit_job", path)
    submit_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit_job)
    inp, viol, report = (str(tmp_path / n) for n in ("tokens", "violations", "report.json"))

    def run(*extra):
        monkeypatch.setattr(sys, "argv", [
            "submit_job.py", "--input", inp, "--checkpoint", str(tmp_path / "ckpt"),
            "--violations", viol, "--report", report, *extra,
        ])
        assert submit_job.main() == 1  # the dirty table is invalid
        with open(report) as f:
            groups = json.load(f)["groups"]
        return [g["resumed"] for g in groups], spark.read.parquet(viol).count()

    cold, n_cold = run("--synthesize", "2000")
    assert not any(cold) and n_cold > 0
    shutil.rmtree(viol)
    resumed, n_resumed = run()
    assert all(resumed) and n_resumed == n_cold
