"""CLI — ``python -m pandera_unified_validator_spark <cmd>``.

Mirrors the reference's ``puv validate|profile|schema`` console entry
(reference ``__main__.py:54-346``), Spark-backed and with its bugs fixed:
no ``eval()`` on dtype strings (schema JSON round-trips through the typed
loader), and ``profile`` actually works (the reference called nonexistent
``profiler.profile(minimal=)`` / ``to_html`` — SURVEY.md §3.4).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _read_any(spark, path: str, fmt: str | None):
    from .sources.readers import (
        read_csv,
        read_jsonl,
        read_orc,
        read_parquet,
        read_text_corpus,
    )

    fmt = fmt or (
        "csv" if path.endswith(".csv")
        else "jsonl" if path.endswith((".jsonl", ".json"))
        else "orc" if path.endswith(".orc")
        else "text" if path.endswith(".txt")
        else "parquet"
    )
    if fmt == "csv":
        return read_csv(spark, path, header=True, inferSchema=True)
    if fmt == "jsonl":
        return read_jsonl(spark, path)
    if fmt == "orc":
        return read_orc(spark, path)
    if fmt == "text":
        return read_text_corpus(spark, path)
    return read_parquet(spark, path)


def cmd_validate(args) -> int:
    from . import SparkValidator, ValidationSchema
    from .session import get_spark

    with open(args.schema) as f:
        schema = ValidationSchema.from_json(f.read())
    spark = get_spark("puv-cli")
    df = _read_any(spark, args.data, args.format)
    res = SparkValidator(
        schema,
        key_columns=tuple(args.key.split(",")) if args.key else (),
        collect_samples=True,
    ).validate(df)
    res.report.to_console(verbose=args.verbose)
    if args.output:
        if args.output.endswith(".html"):
            res.report.to_html(args.output)
        else:
            res.report.to_json(args.output)
        print(f"report written to {args.output}")
    if args.violations and not res.is_valid:
        res.flat_violations().write.mode("overwrite").parquet(args.violations)
        print(f"violation rows written to {args.violations}")
    return 0 if res.is_valid else 1


def cmd_profile(args) -> int:
    from .operators.profiler import DataProfiler
    from .session import get_spark

    spark = get_spark("puv-cli")
    df = _read_any(spark, args.data, args.format)
    rep = DataProfiler(exact=args.exact).profile(df)
    out = json.dumps(rep.to_dict(), indent=2, default=str)
    if args.output:
        with open(args.output, "w") as f:
            f.write(out)
        print(f"profile written to {args.output}")
    else:
        print(out)
    return 0


def cmd_schema(args) -> int:
    """Infer a schema from data (reference ``puv schema``)."""
    from .operators.profiler import DataProfiler
    from .session import get_spark

    spark = get_spark("puv-cli")
    df = _read_any(spark, args.data, args.format)
    schema = DataProfiler(exact=args.exact).profile(df).suggested_schema()
    out = schema.to_json()
    if args.output:
        with open(args.output, "w") as f:
            f.write(out)
        print(f"schema written to {args.output}")
    else:
        print(out)
    return 0


def cmd_dedup(args) -> int:
    """Exact or MinHash near-dedup a corpus to parquet (keep-one)."""
    from pyspark.sql import functions as F

    from .operators.dedup import (
        dedup_by_components,
        dedup_exact,
        minhash_dedup_pairs,
    )
    from .session import get_spark

    from .utils.cache import operator_cache_scope

    spark = get_spark("puv-cli")
    df = _read_any(spark, args.data, args.format)
    # write FIRST, count the written parquet after: counting the plan and
    # then writing it would run the whole near-dup pipeline (LSH joins, and
    # for --transitive the iterative component loop) twice
    with operator_cache_scope():  # pipeline caches released after the write
        if args.near:
            pairs = minhash_dedup_pairs(
                df,
                args.id,
                args.text,
                num_hashes=args.num_hashes,
                bands=args.bands,
                jaccard_threshold=args.threshold,
            )
            if args.transitive:
                # aggressive: connected components collapse chained clusters
                out = dedup_by_components(df, pairs, args.id)
            else:
                # conservative keep-one: drop every id that appears as the
                # GREATER member of a pair (each pair's min-id row survives;
                # two docs never paired with each other both survive)
                losers = pairs.select(F.col("id_b").alias(args.id)).distinct()
                out = df.join(losers, args.id, "left_anti")
        else:
            cols = args.columns.split(",") if args.columns else [args.text]
            out = dedup_exact(df, cols, tiebreak=args.id)
        out.write.mode("overwrite").parquet(args.output)
    before = df.count()
    after = spark.read.parquet(args.output).count()
    print(f"kept {after:,}/{before:,} rows -> {args.output}")
    return 0


def cmd_sample(args) -> int:
    """Deterministic (optionally stratified) hash-threshold sample."""
    from .operators.sampling import deterministic_sample, stratified_sample
    from .session import get_spark

    spark = get_spark("puv-cli")
    df = _read_any(spark, args.data, args.format)
    if args.strata:
        fractions = {
            k: float(v)
            for k, v in (kv.split("=") for kv in args.fractions.split(","))
        }
        out = stratified_sample(
            df, args.strata, fractions, args.key, seed=args.seed,
            default_fraction=args.default_fraction,
        )
    else:
        out = deterministic_sample(df, args.key, args.fraction, seed=args.seed)
    out.write.mode("overwrite").parquet(args.output)
    # count the written output, not `out`: a second action would re-run the
    # sample plan over the whole input
    n = spark.read.parquet(args.output).count()
    print(f"sampled {n:,} rows -> {args.output}")
    return 0


def main(argv: list[str] | None = None) -> int:
    from . import __version__

    p = argparse.ArgumentParser(prog="pandera_unified_validator_spark")
    p.add_argument(
        "-v", "--version", action="version",
        version=f"pandera_unified_validator_spark {__version__}",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="validate data against a schema JSON")
    v.add_argument("data")
    v.add_argument("--schema", required=True)
    v.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc", "text"])
    v.add_argument("--key", help="comma-separated key columns for violations")
    v.add_argument("--output", help="report path (.json or .html)")
    v.add_argument("--violations", help="violation-rows parquet path")
    v.add_argument("--verbose", action="store_true")
    v.set_defaults(fn=cmd_validate)

    pr = sub.add_parser("profile", help="profile a dataset")
    pr.add_argument("data")
    pr.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc", "text"])
    pr.add_argument("--output")
    pr.add_argument("--exact", action="store_true", help="exact quantiles/distinct")
    pr.set_defaults(fn=cmd_profile)

    s = sub.add_parser("schema", help="infer a validation schema from data")
    s.add_argument("data")
    s.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc", "text"])
    s.add_argument("--output")
    s.add_argument("--exact", action="store_true")
    s.set_defaults(fn=cmd_schema)

    d = sub.add_parser("dedup", help="exact or MinHash near-dedup to parquet")
    d.add_argument("data")
    d.add_argument("--output", required=True)
    d.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc", "text"])
    d.add_argument("--id", default="doc_id")
    d.add_argument("--text", default="text")
    d.add_argument("--columns", help="exact-dedup key columns (default: --text)")
    d.add_argument("--near", action="store_true", help="MinHash+LSH near-dedup")
    d.add_argument("--num-hashes", type=int, default=64, dest="num_hashes")
    d.add_argument("--bands", type=int, default=16)
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument(
        "--transitive", action="store_true",
        help="collapse chained near-dup clusters via connected components",
    )
    d.set_defaults(fn=cmd_dedup)

    sm = sub.add_parser("sample", help="deterministic hash-threshold sample")
    sm.add_argument("data")
    sm.add_argument("--output", required=True)
    sm.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc", "text"])
    sm.add_argument("--key", default="doc_id")
    sm.add_argument("--fraction", type=float, default=0.1)
    sm.add_argument("--seed", type=int, default=42)
    sm.add_argument("--strata", help="stratum column (enables per-stratum fractions)")
    sm.add_argument("--fractions", help="stratum=frac,stratum=frac ...")
    sm.add_argument(
        "--default-fraction", type=float, default=0.0, dest="default_fraction"
    )
    sm.set_defaults(fn=cmd_sample)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
