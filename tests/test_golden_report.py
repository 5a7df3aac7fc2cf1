"""Golden report-shape test — the analogue of the reference's committed
output/validation_report.json fixture: the full report dict for the
deterministic dirty token table is pinned (volatile fields masked), so any
unintentional change to report structure or verdict values fails loudly."""

import json

from pandera_unified_validator_spark import SparkValidator
from pandera_unified_validator_spark.tokens import (
    expected_dirty_counts,
    source_dim,
    token_schema,
    token_table,
)

N = 2000

GOLDEN_SUMMARY = {
    "n_rows": 2000,
    "n_invalid_rows": 14,
    "n_checks": 12,
    "n_failed_checks": 8,
}

GOLDEN_FAILS = {
    "doc_id__not_null": 2,
    "doc_id__pattern": 0,
    "tokens__not_null": 0,
    "tokens__element_range": 2,
    "n_tok__not_null": 0,
    "n_tok__ge": 1,
    "n_tok__le": 1,
    "source__not_null": 0,
    "source__isin": 2,
    "table__tokens_len_matches": 6,
    "doc_id__unique": 4,
    "source__referential": 2,
}


def test_golden_report_shape_and_values(spark):
    df = token_table(spark, N, dirty=True, num_partitions=4)
    res = SparkValidator(
        token_schema(), ref_checks={"source": source_dim(spark)}, key_columns=("doc_id",)
    ).validate(df)
    d = res.report.to_dict()

    # structure: exact top-level keys
    assert set(d) == {
        "is_valid", "summary", "checks", "errors", "warnings", "metadata", "timestamp",
    }
    assert d["is_valid"] is False
    got_summary = {k: d["summary"][k] for k in GOLDEN_SUMMARY}
    assert got_summary == GOLDEN_SUMMARY
    got_fails = {c["name"]: c["n_failed"] for c in d["checks"]}
    # golden counts (doc_id__unique and source checks overlap with the
    # exactly-computable expected_dirty_counts — cross-check both ways)
    exp = expected_dirty_counts(N)
    for name, n in exp.items():
        assert got_fails[name] == n
    assert got_fails == GOLDEN_FAILS
    # every check record carries the full field set
    for c in d["checks"]:
        assert set(c) == {
            "name", "column", "check", "n_failed", "n_checked", "passed", "samples",
        }
        assert c["n_checked"] == N
    # report is JSON-serializable end-to-end
    assert json.loads(res.report.to_json())["summary"]["n_rows"] == N


def _field_shape(x):
    """Recursive field-set signature: dict keys at every level; lists
    collapse to their first element's shape (the fixture is homogeneous)."""
    if isinstance(x, dict):
        return {k: _field_shape(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_field_shape(x[0])] if x else []
    return "*"


def test_reference_fixture_field_parity(spark):
    """Field-for-field parity with the reference's committed golden fixture
    (reference output/validation_report.json, written by its
    utils/reporting.py:222-261): same top-level keys, same summary keys, same
    error/suggestion record fields, same context fields."""
    import os

    import pytest

    fixture_path = "/root/reference/output/validation_report.json"
    if not os.path.exists(fixture_path):
        pytest.skip("reference fixture not available")
    ref = json.load(open(fixture_path))

    from pandera_unified_validator_spark.operators.fixes import suggest_fixes
    from pandera_unified_validator_spark.plans.schema import SchemaBuilder

    # input engineered to produce every fixture section: schema error
    # (missing column) + failed checks + suggestions
    df = token_table(spark, 500, dirty=True, num_partitions=2).drop("source")
    schema = token_schema()
    report = SparkValidator(schema).validate(df).report
    sugg = suggest_fixes(report, schema)
    got = report.to_reference_dict(suggestions=sugg)

    ref_shape, got_shape = _field_shape(ref), _field_shape(got)
    assert set(ref_shape) == set(got_shape)                      # top level
    assert set(ref_shape["summary"]) == set(got_shape["summary"])
    assert ref_shape["errors"][0].keys() == got_shape["errors"][0].keys()
    assert (
        set(ref_shape["errors"][0]["context"])
        == set(got_shape["errors"][0]["context"])
    )
    assert ref_shape["suggestions"][0].keys() == got_shape["suggestions"][0].keys()
    # semantic sanity: totals agree with their sections on both sides
    for d in (ref, got):
        assert d["summary"]["total_errors"] == len(d["errors"])
        assert d["summary"]["total_suggestions"] == len(d["suggestions"])
    assert got["is_valid"] is False and len(got["errors"]) > 0
    assert json.dumps(got)  # serializable


def test_html_report_escapes_caller_data():
    """Column names, check names, titles, chart labels and error messages
    are caller data: a value containing markup must come out HTML-escaped,
    not as live tags (advice r4 — the SVG chart extended the unescaped
    interpolation into <text> nodes)."""
    from pandera_unified_validator_spark.utils.reporting import (
        CheckResult,
        ValidationReport,
    )

    evil = 'col<script>&"x"'
    rep = ValidationReport(
        is_valid=False,
        checks=(
            CheckResult(
                name=f"{evil}__ge", column=evil, check="ge<1>", n_failed=3, n_checked=9
            ),
        ),
        errors=(f"schema error about {evil}",),
        warnings=(),
        n_rows=9,
        n_invalid_rows=3,
        metadata={},
    )
    html = rep.to_html(title=f"report <{evil}>")
    assert "<script>" not in html
    assert "col&lt;script&gt;" in html          # table cell + svg label escaped
    assert "ge&lt;1&gt;" in html                # check kind escaped
    assert "report &lt;col" in html             # title escaped
    assert "&quot;x&quot;" in html or "&#x27;" in html or '\\"x\\"' in html

