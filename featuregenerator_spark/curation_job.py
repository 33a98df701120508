"""spark-submit entry point: raw document table -> curated table.

The curation counterpart of job.py (same deployment contract: the SAME
artifact runs unchanged at any executor count) —

    spark-submit --master <cluster> --py-files fg_spark.zip curation_job.py \\
        --input  s3://.../documents     (parquet/Iceberg, optionally ds-partitioned)
        --output s3://.../curated
        --config curation.json          (REQUIRED: the declared pipeline)
        [--ds-from YYYY-MM-DD --ds-to YYYY-MM-DD]
        [--repartition N]               (single/few-file inputs: spread the
                                         scan before corpus-level lifts)

or locally: ``python -m featuregenerator_spark.curation_job --input ...``.

The config is the whole program — quality rules, C4 cleaning, PII
scrubbing, language ID, linear model scoring, substring dedup/trim,
derived flags, and row filters, applied in declaration order by
spec.compile_pipeline. Units are per-``ds`` when the input is
date-partitioned (falling back to one "all" unit; rows whose ``ds`` is
NULL belong to no unit) and each commits as one append snapshot of the
output snapshot table through job.py's ``run_units``, so a killed run
resumes from the last committed day and the report has job.py's keys.
Read the output with ``SnapshotTable(spark, output).read()``.

Scope note: corpus-level lifts (substring_dup / substring_trim) see ONE
unit's documents at a time under ds-chunking — duplicate detection is
within-day. That matches the daily-ingest shape (dedup_incremental is
the cross-day tool); run without ds-chunking for whole-corpus window
counting.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from featuregenerator_spark.job import run_units
from featuregenerator_spark.spec import compile_pipeline


def build_curated_df(
    spark,
    input_path: str,
    ds: str | None,
    config: dict,
    repartition: int | None = None,
):
    """One unit of curation: scan (pruned to ``ds`` when given), optional
    spread for single-file inputs, then the declared pipeline."""
    df = spark.read.parquet(input_path)
    if ds is not None and "ds" in df.columns:
        df = df.filter(F.col("ds").cast("string") == ds)
    if repartition:
        df = df.repartition(repartition)
    return compile_pipeline(config, df)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", required=True, help="curation pipeline JSON file")
    ap.add_argument("--ds-from")
    ap.add_argument("--ds-to")
    ap.add_argument("--repartition", type=int)
    ap.add_argument("--app-name", default="fg-spark-curation")
    args = ap.parse_args(argv)

    from featuregenerator_spark.session import get_spark

    spark = get_spark(args.app_name)
    with open(args.config) as f:
        config = json.load(f)

    report = run_units(
        spark,
        args.input,
        args.output,
        lambda ds: build_curated_df(
            spark, args.input, ds, config, repartition=args.repartition
        ),
        ds_from=args.ds_from,
        ds_to=args.ds_to,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
