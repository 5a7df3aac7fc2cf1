"""spark-submit entry point: validate a token table end-to-end on a cluster.

Packaging (north rule "spark-submit --py-files on a multi-executor cluster"):

    python tools/package.py                       # → dist/puv_spark.zip
    spark-submit --py-files dist/puv_spark.zip \\
        tools/submit_job.py --input s3://bucket/tokens/ \\
        --checkpoint s3://bucket/_validation_ckpt/ --report report.json

Local smoke (what CI / this sandbox runs):

    python tools/submit_job.py --input /tmp/tokens_parquet --synthesize 100000
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path of the token table")
    p.add_argument("--checkpoint", default=None, help="lineage/resume directory")
    p.add_argument("--report", default=None, help="write JSON report here")
    p.add_argument("--violations", default=None, help="write violation rows (parquet)")
    p.add_argument("--error-threshold", type=float, default=None,
                   help="early-stop error rate (default: off)")
    p.add_argument("--files-per-group", type=int, default=64)
    p.add_argument("--synthesize", type=int, default=0,
                   help="write N synthetic rows to --input first (smoke mode)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from pandera_unified_validator_spark import SparkValidator
    from pandera_unified_validator_spark.streaming.runner import (
        PartitionedValidationRunner,
    )
    from pandera_unified_validator_spark.tokens import (
        source_dim,
        token_schema,
        token_table,
    )

    # under spark-submit the session comes preconfigured from the cluster;
    # standalone (smoke) falls back to the local factory
    spark = SparkSession.getActiveSession()
    if spark is None:
        try:
            spark = SparkSession.builder.getOrCreate()
        except Exception:  # pragma: no cover
            from pandera_unified_validator_spark.session import get_spark

            spark = get_spark("puv-submit")

    if args.synthesize:
        token_table(spark, args.synthesize, dirty=True).write.mode("overwrite").parquet(
            args.input
        )

    validator = SparkValidator(
        token_schema(),
        ref_checks={"source": source_dim(spark)},
        key_columns=("doc_id",),
    )
    runner = PartitionedValidationRunner(
        validator,
        checkpoint_dir=args.checkpoint,
        error_threshold=args.error_threshold,
        files_per_group=args.files_per_group,
        progress_callback=lambda i, n, m: print(
            f"group {i}/{n}: rows={m.total_rows:,} error_rate={m.error_rate:.5f}",
            file=sys.stderr,
        ),
    )
    result = runner.run(spark, args.input)

    if args.violations and not result.is_valid:
        res = validator.validate(spark.read.parquet(args.input))
        res.flat_violations().write.mode("overwrite").parquet(args.violations)

    payload = {
        "is_valid": result.is_valid,
        "metrics": result.metrics.to_dict(),
        "groups": [g.to_dict() | {"resumed": g.resumed} for g in result.groups],
    }
    out = json.dumps(payload, indent=2)
    if args.report:
        with open(args.report, "w") as f:
            f.write(out)
    print(out)
    return 0 if result.is_valid else 1


if __name__ == "__main__":
    raise SystemExit(main())
