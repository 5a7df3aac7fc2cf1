"""Compile a ValidationSchema into named PySpark boolean check expressions.

This replaces the reference's pandera emission layer (``to_pandera_column``,
reference ``core/schema.py:68-92``) with direct Catalyst expressions: every
check becomes one ``pyspark.sql.Column`` that is TRUE when the row PASSES.

Semantics (pandera-compatible, SURVEY.md §2.2):

* Value checks (ge/le/gt/lt/pattern/isin/custom) evaluate over NON-NULL
  values only — a NULL value passes them; ``nullable=False`` is its own check.
* ``pattern`` anchors at the start (pandera ``str_matches``); with
  ``pattern_search=True`` it matches anywhere (Pydantic semantics).
* Conditional checks compile to ``NOT condition OR check``
  (``F.when(cond, check).otherwise(True)``).

Row-local checks all evaluate in ONE whole-stage-codegen pass (no shuffle,
no Python). Non-row-local checks — ``unique`` (needs a hash shuffle on the
key) and referential-against-a-dimension (broadcast anti-join) — are
described here and executed by the validator (``operators/validator.py``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import ColumnSpec, ValidationSchema

__all__ = [
    "CompiledCheck",
    "GlobalCheck",
    "SPARK_TYPES",
    "spark_type",
    "compile_column_checks",
    "compile_schema",
    "schema_struct",
]

# logical dtype → Spark type (reference DTYPE_MAP core/schema.py:33-48 analogue)
SPARK_TYPES: dict[str, T.DataType] = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "str": T.StringType(),
    "bool": T.BooleanType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "array<int>": T.ArrayType(T.IntegerType()),
    "array<float>": T.ArrayType(T.FloatType()),
    "binary": T.BinaryType(),
}

# dtype-conformance acceptance: declared label → Spark types that conform
# without coercion (C9). Wider/narrower ints all count as "int" etc.
_CONFORMING: dict[str, tuple[type, ...]] = {
    "int": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "float": (T.FloatType, T.DoubleType, T.DecimalType),
    "str": (T.StringType,),
    "bool": (T.BooleanType,),
    "datetime": (T.TimestampType, T.TimestampNTZType),
    "date": (T.DateType,),
    "binary": (T.BinaryType,),
}


def spark_type(dtype: str) -> T.DataType:
    return SPARK_TYPES[dtype]


def schema_struct(schema: ValidationSchema) -> T.StructType:
    """Declared StructType (for schema-on-read, createDataFrame, casts)."""
    return T.StructType(
        [
            T.StructField(c.name, spark_type(c.dtype), c.nullable)
            for c in schema.columns.values()
        ]
    )


def dtype_conforms(dtype_label: str, actual: T.DataType) -> bool:
    if dtype_label.startswith("array<"):
        if not isinstance(actual, T.ArrayType):
            return False
        inner = dtype_label[6:-1]
        return dtype_conforms(inner, actual.elementType)
    accepted = _CONFORMING.get(dtype_label)
    return accepted is not None and isinstance(actual, accepted)


@dataclass(frozen=True)
class CompiledCheck:
    """One named row-local check. ``expr`` is TRUE when the row passes."""

    name: str        # e.g. "n_tok__ge"
    column: str      # "" for table-level (cross/conditional) checks
    expr: Column
    check: str       # check kind: "ge", "pattern", "custom:<name>", ...


@dataclass(frozen=True)
class GlobalCheck:
    """A check that needs a shuffle or a join (executed by the validator)."""

    name: str
    column: str
    check: str       # "unique" | "referential"


def _null_safe(col: Column, pred: Column) -> Column:
    """Pandera semantics: NULL passes every value check."""
    return col.isNull() | pred


def compile_column_checks(spec: ColumnSpec) -> tuple[list[CompiledCheck], list[GlobalCheck]]:
    c = F.col(spec.name)
    row: list[CompiledCheck] = []
    glob: list[GlobalCheck] = []

    def add(kind: str, pred: Column, null_safe: bool = True) -> None:
        expr = _null_safe(c, pred) if null_safe else pred
        row.append(CompiledCheck(f"{spec.name}__{kind}", spec.name, expr, kind))

    if not spec.nullable:
        # C7 (reference core/schema.py:86-92)
        row.append(CompiledCheck(f"{spec.name}__not_null", spec.name, c.isNotNull(), "not_null"))
    if spec.ge is not None:   # C1 core/schema.py:72-73
        add("ge", c >= F.lit(spec.ge))
    if spec.le is not None:   # C2 core/schema.py:74-75
        add("le", c <= F.lit(spec.le))
    if spec.gt is not None:   # C3 core/schema.py:76-77
        add("gt", c > F.lit(spec.gt))
    if spec.lt is not None:   # C4 core/schema.py:78-79
        add("lt", c < F.lit(spec.lt))
    if spec.pattern is not None:  # C5 core/schema.py:80-81 (anchoring per module docstring)
        # Anchor with a non-capturing group: a bare "^" + "cat|dog" would
        # compile to ^cat|dog (alternation binds looser than the anchor) and
        # wrongly match "hotdog"; ^(?:cat|dog) preserves re.match semantics.
        pat = spec.pattern if spec.pattern_search else (
            spec.pattern if spec.pattern.startswith("^") else "^(?:" + spec.pattern + ")"
        )
        add("pattern", c.rlike(pat))
    if spec.isin is not None:  # C6 core/schema.py:82-83 (small literal set → codegen'd IN)
        add("isin", c.isin(list(spec.isin)))
    if spec.element_ge is not None or spec.element_lt is not None:
        # token-element range for array<int> (input_hint). Implemented as
        # array_min/array_max bound checks rather than forall(...): min/max
        # are codegen'd expressions while higher-order functions run
        # interpreted — measured 3.6x faster on token arrays. Semantics:
        # NULL array passes (value-check rule); empty array passes
        # (min/max → NULL → null-safe pass); NULL *elements* are ignored
        # (array_min/max skip nulls), matching "check the values present".
        preds = []
        if spec.element_ge is not None:
            preds.append(F.array_min(c) >= F.lit(spec.element_ge))
        if spec.element_lt is not None:
            preds.append(F.array_max(c) < F.lit(spec.element_lt))
        pred = preds[0]
        for p in preds[1:]:
            pred = pred & p
        # empty array: min/max yield NULL → treat as pass (no values to check)
        add("element_range", (F.size(c) == 0) | pred)
    for custom in spec.custom_checks:  # U1 core/schema.py:142-157
        if custom.sql is not None:
            pred = F.expr(custom.sql.replace("{c}", f"`{spec.name}`"))
            add(f"custom:{custom.name}", pred)
        else:
            # Arrow-vectorized pandas UDF over the column (never per-row
            # Python). Pandera semantics: the user's fn sees only non-null
            # values; nulls auto-pass; a null/NaN verdict counts as fail.
            fn = custom.fn

            def _null_safe_wrap(ser, _fn=fn):
                import pandas as _pd

                out = _pd.Series(True, index=ser.index, dtype=bool)
                mask = ser.notna()
                if mask.any():
                    res = _pd.Series(_fn(ser[mask]), index=ser[mask].index)
                    out[mask] = res.astype("boolean").fillna(False).astype(bool)
                return out

            udf = F.pandas_udf(_null_safe_wrap, T.BooleanType())
            add(f"custom:{custom.name}", udf(c))
    if spec.unique:  # C8 — needs hash shuffle; handled by the validator
        glob.append(GlobalCheck(f"{spec.name}__unique", spec.name, "unique"))
    return row, glob


def compile_schema(
    schema: ValidationSchema, df_columns: Sequence[str] | None = None
) -> tuple[list[CompiledCheck], list[GlobalCheck], list[str]]:
    """Compile every check; returns (row_checks, global_checks, missing_columns).

    Checks on missing columns are skipped (they surface as missing-column
    errors, C10 — reference ``backends/pandas_backend.py:45-46``).
    """
    present = set(df_columns) if df_columns is not None else None
    row: list[CompiledCheck] = []
    glob: list[GlobalCheck] = []
    missing: list[str] = []
    for spec in schema.columns.values():
        if present is not None and spec.name not in present:
            missing.append(spec.name)
            continue
        r, g = compile_column_checks(spec)
        row.extend(r)
        glob.extend(g)
    for cc in schema.cross_checks:  # U2 core/schema.py:160-167
        if present is not None and cc.columns and not set(cc.columns) <= present:
            missing.extend(sorted(set(cc.columns) - present))
            continue
        if cc.sql is not None:
            expr = F.expr(cc.sql)
        else:
            # struct-of-columns → Arrow pandas UDF returning a bool mask
            import pandas as pd  # noqa: F401

            fn = cc.fn
            cols = list(cc.columns)

            def _wrap(*series, _fn=fn, _cols=cols):
                import pandas as _pd

                pdf = _pd.concat(series, axis=1)
                pdf.columns = _cols
                return _fn(pdf)

            udf = F.pandas_udf(_wrap, T.BooleanType())
            expr = udf(*[F.col(x) for x in cols])
        row.append(CompiledCheck(f"table__{cc.name}", "", expr, f"cross:{cc.name}"))
    for cond in schema.conditional_checks:  # U3 — implemented (reference dead code)
        expr = F.when(F.expr(cond.condition_sql), F.expr(cond.check_sql)).otherwise(F.lit(True))
        # NULL condition → not applicable → pass
        expr = F.coalesce(expr, F.lit(True))
        row.append(
            CompiledCheck(f"table__{cond.name}", "", expr, f"conditional:{cond.name}")
        )
    return row, glob, missing


def dtype_errors(schema: ValidationSchema, df: DataFrame) -> list[str]:
    """C9 dtype conformance, driver-side over df.schema (no job)."""
    errs = []
    fields = {f.name: f.dataType for f in df.schema.fields}
    for spec in schema.columns.values():
        actual = fields.get(spec.name)
        if actual is not None and not dtype_conforms(spec.dtype, actual):
            errs.append(
                f"column {spec.name!r}: expected dtype {spec.dtype}, got {actual.simpleString()}"
            )
    return errs
