"""Validation reports, metrics, and exporters (driver-side, small data).

Re-creates the reference's report surface — ``ValidationReport`` /
``ValidationMetrics`` (reference ``utils/reporting.py:21-68``,
``core/streaming.py:33-83``) and the JSON / console / errors-DataFrame /
Prometheus / OpenTelemetry sinks (reference ``utils/reporting.py:83-412``,
K1-K6 in SURVEY.md §2.1) — fed from collected Spark verdict rows instead of
pandas exceptions. Errors are STRUCTURED (column / check / count / samples),
never parsed back out of message strings (fixes reference F1 string-matching,
``core/validator.py:209-231``).
"""

from __future__ import annotations

import json
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

__all__ = [
    "CheckResult",
    "ValidationReport",
    "ValidationMetrics",
    "to_prometheus",
    "to_opentelemetry",
]


@dataclass(frozen=True)
class CheckResult:
    """Aggregated outcome of one named check across the whole input."""

    name: str          # "n_tok__ge"
    column: str        # "" for table-level checks
    check: str         # "ge", "not_null", "unique", "referential", ...
    n_failed: int
    n_checked: int
    samples: tuple = ()  # up to max_samples failing key/value examples

    @property
    def passed(self) -> bool:
        return self.n_failed == 0

    def to_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "column": self.column,
            "check": self.check,
            "n_failed": int(self.n_failed),
            "n_checked": int(self.n_checked),
            "passed": self.passed,
            "samples": list(self.samples),
        }


@dataclass
class ValidationReport:
    """Validation outcome (reference utils/reporting.py:21-68)."""

    is_valid: bool = True
    checks: tuple[CheckResult, ...] = ()
    errors: tuple[str, ...] = ()      # schema-level errors (missing column, dtype)
    warnings: tuple[str, ...] = ()
    metadata: dict[str, Any] = field(default_factory=dict)
    n_rows: int = 0
    n_invalid_rows: int = 0

    @property
    def failed_checks(self) -> list[CheckResult]:
        return [c for c in self.checks if not c.passed]

    def errors_by_column(self) -> dict[str, int]:
        """A16 (reference utils/reporting.py:284-289): failures per column."""
        out: Counter = Counter()
        for c in self.checks:
            if c.n_failed:
                out[c.column or "<table>"] += c.n_failed
        return dict(out)

    def top_errors(self, k: int = 10) -> list[tuple[str, int]]:
        """A16: top-K failing checks by count."""
        return Counter(
            {c.name: c.n_failed for c in self.checks if c.n_failed}
        ).most_common(k)

    # -- sinks ---------------------------------------------------------------
    def to_dict(self) -> dict[str, Any]:
        return {
            "is_valid": self.is_valid,
            "summary": {
                "n_rows": int(self.n_rows),
                "n_invalid_rows": int(self.n_invalid_rows),
                "n_checks": len(self.checks),
                "n_failed_checks": len(self.failed_checks),
                "errors_by_column": self.errors_by_column(),
                "top_errors": self.top_errors(),
            },
            "checks": [c.to_dict() for c in self.checks],
            "errors": list(self.errors),
            "warnings": list(self.warnings),
            "metadata": self.metadata,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }

    def to_json(self, filepath: str | None = None, indent: int = 2) -> str:
        """K1 (reference utils/reporting.py:222-261)."""
        s = json.dumps(self.to_dict(), indent=indent, default=str)
        if filepath:
            with open(filepath, "w") as f:
                f.write(s)
        return s

    def to_console(
        self, verbose: bool = False, suggestions: Sequence[Any] = ()
    ) -> str:
        """K3 (reference utils/reporting.py:83-170) — plain-text render with
        the reference's table CONTENT (no rich dependency): Validation
        Summary (status / totals / metadata rows), Errors by Column (top 10,
        count + percentage of all failures), Top 10 Errors (names truncated
        at 100 chars like the reference's messages), per-check detail with
        failing-value samples, Warnings (top 10), and Auto-Fix Suggestions
        when provided (column + description, top 10)."""
        bar = "-" * 64
        total_failures = sum(c.n_failed for c in self.checks)
        lines = [
            bar,
            "validation summary",
            f"  status: {'PASSED' if self.is_valid else 'FAILED'}",
            f"  rows: {self.n_rows:,}  invalid rows: {self.n_invalid_rows:,}",
            f"  checks: {len(self.checks)}  failed: {len(self.failed_checks)}",
            f"  warnings: {len(self.warnings)}  suggestions: {len(suggestions)}",
        ]
        for key, value in self.metadata.items():
            if key not in ("stage", "message"):
                lines.append(f"  {key.replace('_', ' ')}: {value}")
        for e in self.errors:
            lines.append(f"  schema error: {e}")
        by_col = self.errors_by_column()
        if by_col:
            lines += [bar, "errors by column"]
            top_cols = sorted(by_col.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            width = max(len(c) for c, _ in top_cols)
            for col, n in top_cols:
                pct = (n / total_failures * 100) if total_failures else 0.0
                lines.append(f"  {col:<{width}}  {n:,}  {pct:.1f}%")
        top = self.top_errors()
        if top:
            lines += [bar, "top errors"]
            names = [(n[:100] + "...") if len(n) > 100 else n for n, _ in top]
            width = max(len(n) for n in names)
            for name, (_, n) in zip(names, top):
                lines.append(f"  {name:<{width}}  {n:,}")
        lines.append(bar)
        for c in self.failed_checks if not verbose else self.checks:
            status = "FAIL" if c.n_failed else "ok"
            lines.append(f"  [{status}] {c.name}: {c.n_failed:,}/{c.n_checked:,} failed")
            for s in c.samples[:5]:
                lines.append(f"         e.g. {s!r}")
        for w in self.warnings[:10]:
            lines.append(f"  warning: {w}")
        if suggestions:
            lines += [bar, "auto-fix suggestions"]
            for s in suggestions[:10]:
                col = getattr(s, "column", None) or "N/A"
                desc = getattr(s, "description", str(s))
                lines.append(f"  {col}: {desc}")
        out = "\n".join(lines)
        print(out)
        return out

    def to_html(self, filepath: str | None = None, title: str = "Validation report") -> str:
        """K2 (reference utils/reporting.py:172-220) — dependency-free HTML.
        The errors-by-column bar chart the reference renders via its chart.js
        template (reference utils/reporting.py:416-704) is inlined here as
        plain SVG (no script, no external assets — safe to open offline or
        attach to a ticket). Every interpolated name/label/message passes
        through ``html.escape`` — column names and error strings are caller
        data and must not be able to inject markup into the report."""
        from html import escape

        title = escape(title)
        rows = "\n".join(
            f"<tr class={'fail' if c.n_failed else 'ok'}><td>{escape(c.name)}</td>"
            f"<td>{escape(str(c.column))}</td><td>{escape(str(c.check))}</td>"
            f"<td>{c.n_failed:,}</td>"
            f"<td>{c.n_checked:,}</td></tr>"
            for c in self.checks
        )
        chart = ""
        by_col = sorted(
            self.errors_by_column().items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]
        if by_col:
            vmax = max(n for _, n in by_col)
            bar_h, gap, label_w, bar_w = 18, 6, 180, 360
            bars = []
            for i, (col, n) in enumerate(by_col):
                y = i * (bar_h + gap)
                w = max(round(bar_w * n / vmax), 1)
                bars.append(
                    f'<text x="{label_w - 6}" y="{y + bar_h - 5}" text-anchor="end" '
                    f'font-size="12" font-family="sans-serif">{escape(str(col))}</text>'
                    f'<rect x="{label_w}" y="{y}" width="{w}" height="{bar_h}" fill="#c22"/>'
                    f'<text x="{label_w + w + 6}" y="{y + bar_h - 5}" font-size="12" '
                    f'font-family="sans-serif">{n:,}</text>'
                )
            svg_h = len(by_col) * (bar_h + gap)
            chart = (
                "<h2>Errors by column</h2>"
                f'<svg width="{label_w + bar_w + 80}" height="{svg_h}" '
                f'role="img" aria-label="errors by column">{"".join(bars)}</svg>'
            )
        html = f"""<!doctype html><html><head><meta charset="utf-8"><title>{title}</title>
<style>body{{font-family:sans-serif;margin:2em}}table{{border-collapse:collapse}}
td,th{{border:1px solid #ccc;padding:4px 10px}}tr.fail{{background:#fdd}}
.badge{{font-size:1.4em;font-weight:bold;color:{'#2a2' if self.is_valid else '#c22'}}}</style>
</head><body><h1>{title}</h1>
<p class="badge">{'PASSED' if self.is_valid else 'FAILED'}</p>
<p>rows: {self.n_rows:,} &middot; invalid rows: {self.n_invalid_rows:,}</p>
{chart}
<table><tr><th>check</th><th>column</th><th>kind</th><th>failed</th><th>checked</th></tr>
{rows}</table>
<pre>{escape(json.dumps({'errors': list(self.errors), 'warnings': list(self.warnings),
                 'metadata': self.metadata}, indent=2, default=str))}</pre>
</body></html>"""
        if filepath:
            with open(filepath, "w") as f:
                f.write(html)
        return html

    def to_reference_dict(self, suggestions: Sequence[Any] = ()) -> dict[str, Any]:
        """Reference-fixture-compatible export: the exact field set of the
        reference's committed ``output/validation_report.json`` (written by
        reference ``utils/reporting.py:222-261`` — is_valid, summary totals,
        errors[{message,row,column,context}], warnings, suggestions
        [{column,description,has_fixer}], metadata, timestamp). Errors here
        are structured check aggregates rather than per-row pandas/Pydantic
        exception strings; row is None because counts are aggregated (stable
        under distribution, SURVEY.md §7.4.1)."""
        errors: list[dict[str, Any]] = []
        for e in self.errors:  # schema-level (missing column / dtype / strict)
            errors.append(
                {
                    "message": e,
                    "row": None,
                    "column": e.split("'")[1] if "'" in e else None,
                    "context": {
                        "stage": "schema",
                        "count": 1,
                        "backend": "spark",
                        "rows": int(self.n_rows),
                    },
                }
            )
        for c in self.failed_checks:
            errors.append(
                {
                    "message": (
                        f"check '{c.name}' ({c.check}) failed for "
                        f"{c.n_failed} of {c.n_checked} rows"
                    ),
                    "row": None,
                    "column": c.column or None,
                    "context": {
                        "stage": "checks",
                        "count": int(c.n_failed),
                        "backend": "spark",
                        "rows": int(c.n_checked),
                    },
                }
            )
        return {
            "is_valid": self.is_valid,
            "summary": {
                "total_errors": len(errors),
                "total_warnings": len(self.warnings),
                "total_suggestions": len(suggestions),
            },
            "errors": errors,
            "warnings": list(self.warnings),
            "suggestions": [
                {
                    "column": getattr(s, "column", None),
                    "description": getattr(s, "description", str(s)),
                    "has_fixer": getattr(s, "fixer", None) is not None,
                }
                for s in suggestions
            ],
            "metadata": dict(self.metadata),
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }


@dataclass
class ValidationMetrics:
    """Streaming/partition-loop accumulator (reference core/streaming.py:33-83)."""

    total_rows: int = 0
    valid_rows: int = 0
    invalid_rows: int = 0
    chunks_processed: int = 0
    early_terminated: bool = False
    elapsed_sec: float = 0.0
    common_errors: Counter = field(default_factory=Counter)

    @property
    def error_rate(self) -> float:
        return self.invalid_rows / self.total_rows if self.total_rows else 0.0

    def update(self, n_valid: int, n_invalid: int, error_counts: Mapping[str, int]) -> None:
        self.total_rows += n_valid + n_invalid
        self.valid_rows += n_valid
        self.invalid_rows += n_invalid
        self.chunks_processed += 1
        for k, v in error_counts.items():
            # normalize like the reference (first line, 100-char cap,
            # core/streaming.py:54-68) — our keys are check names, already short
            self.common_errors[str(k).splitlines()[0][:100]] += v

    def top_errors(self, k: int = 10) -> list[tuple[str, int]]:
        return self.common_errors.most_common(k)

    def to_dict(self) -> dict[str, Any]:
        return {
            "total_rows": self.total_rows,
            "valid_rows": self.valid_rows,
            "invalid_rows": self.invalid_rows,
            "error_rate": self.error_rate,
            "chunks_processed": self.chunks_processed,
            "early_terminated": self.early_terminated,
            "elapsed_sec": self.elapsed_sec,
            "common_errors": dict(self.common_errors),
        }


def to_prometheus(metrics: ValidationMetrics, prefix: str = "puv") -> str:
    """K5 (reference utils/reporting.py:300-345): text exposition format."""
    m = metrics.to_dict()
    lines = []
    for key in ("total_rows", "valid_rows", "invalid_rows", "chunks_processed"):
        lines += [
            f"# HELP {prefix}_{key} {key.replace('_', ' ')}",
            f"# TYPE {prefix}_{key} counter",
            f"{prefix}_{key} {m[key]}",
        ]
    lines += [
        f"# HELP {prefix}_error_rate fraction of invalid rows",
        f"# TYPE {prefix}_error_rate gauge",
        f"{prefix}_error_rate {m['error_rate']}",
        f"# HELP {prefix}_early_terminated 1 if the run stopped early",
        f"# TYPE {prefix}_early_terminated gauge",
        f"{prefix}_early_terminated {int(m['early_terminated'])}",
    ]
    for name, count in metrics.top_errors():
        safe = name.replace("\\", "\\\\").replace('"', '\\"')
        lines.append(f'{prefix}_errors_total{{check="{safe}"}} {count}')
    return "\n".join(lines) + "\n"


def to_opentelemetry(metrics: ValidationMetrics, prefix: str = "puv") -> dict[str, Any]:
    """K6 (reference utils/reporting.py:347-412): OTel-shaped metrics dict."""
    m = metrics.to_dict()

    def point(name: str, value: Any, kind: str) -> dict[str, Any]:
        return {
            "name": f"{prefix}.{name}",
            "type": kind,
            "data_points": [{"value": value, "attributes": {}}],
        }

    return {
        "resource_metrics": {
            "scope": {"name": "pandera_unified_validator_spark"},
            "metrics": [
                point("rows.total", m["total_rows"], "sum"),
                point("rows.valid", m["valid_rows"], "sum"),
                point("rows.invalid", m["invalid_rows"], "sum"),
                point("error_rate", m["error_rate"], "gauge"),
                point("chunks", m["chunks_processed"], "sum"),
                point("early_terminated", int(m["early_terminated"]), "gauge"),
            ]
            + [
                {
                    "name": f"{prefix}.errors",
                    "type": "sum",
                    "data_points": [
                        {"value": n, "attributes": {"check": k}}
                        for k, n in metrics.top_errors()
                    ],
                }
            ],
        }
    }
