"""spark-submit entry point: transcript table -> per-turn feature table.

The deployment contract of the north rule: the SAME artifact runs
unchanged at any executor count —

    spark-submit --master <cluster> --py-files fg_spark.zip job.py \\
        --input  s3://.../transcripts   (parquet/Iceberg, date-partitioned)
        --output s3://.../turn_features
        [--config features.json]       (optional FeatureConfig overlay)
        [--ds-from YYYY-MM-DD --ds-to YYYY-MM-DD]
        [--input-format parquet|snapshot]   (snapshot = Iceberg-protocol
            table from sources/snapshots.py; each day unit's scan prunes
            whole day-files via manifest ds-stats before any footer opens)
        [--output-format snapshot]          (the only output format,
            accepted for existing submit lines)

(job.py is this file, shipped alongside the zip; the submit path is
exercised end-to-end at two parallelism levels in
tests/test_job.py::test_spark_submit_pyfiles_two_parallelism_levels)

or locally: ``python -m featuregenerator_spark.job --input ... --output ...``

Work is split into per-day units (``run_units``, shared with
curation_job.py): each ``ds`` value is one append snapshot of the output
snapshot table (sources/snapshots.py), so a killed run resumes from the
last committed day (idempotent; a unit killed mid-write leaves only an
orphan data dir that no reader lists). Runs with no ``ds`` column fall
back to a single unit keyed "all". Rows whose ``ds`` is NULL belong to no
day unit and are left out. Read the output with
``SnapshotTable(spark, output).read()``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from featuregenerator_spark.plans.pipeline import FEATURE_COLUMNS, build_turn_features
from featuregenerator_spark.plans.temporal import with_ts_seconds
from featuregenerator_spark.sources.snapshots import (
    SnapshotTable,
    run_resumable_snapshots,
)

# per-file manifest stats on every output commit, so snapshot readers
# can file-skip by day or time range; columns the output lacks are skipped
STATS_COLS = ["ds", "ts"]


def build_features_df(
    spark,
    input_path: str,
    ds: str | None,
    config: dict | None,
    lookback_days: int = 1,
    snapshots_path: str | None = None,
    input_format: str = "parquet",
):
    """Features for one day-unit, point-in-time correct across unit
    boundaries: the scan includes ``lookback_days`` of history (>= the
    longest trailing window, default 24h -> 1 day) so rolling counts and
    gaps at the start of ``ds`` see yesterday's turns, then only ``ds``
    rows are emitted.

    ``gap_seconds`` is horizon-limited by contract: null when the
    previous turn is more than ``lookback_days`` back. A chunked run
    cannot see turns beyond its lookback scan, so the one-shot path nulls
    those gaps too (via build_turn_features(gap_horizon_seconds=...)) —
    both paths agree exactly, including for conversations idle longer
    than the lookback (asserted in tests/test_job.py). ``gap_bucket`` is
    unaffected (beyond-horizon and unknown both bucket to 8). Caveat:
    session numbering is window-relative in chunked runs (a session
    crossing the lookback horizon restarts its index).
    """
    if input_format == "snapshot":
        # Iceberg-protocol transcript table (sources/snapshots.py): the
        # day range rides read(where=...), so manifest ds-stats DROP
        # whole day-files from the plan before any footer opens — the
        # snapshot-table twin of partition pruning; the residual filter
        # keeps the read exact regardless of commit granularity.
        import datetime as _dt

        t = SnapshotTable(spark, input_path)
        if ds is not None:
            lo = (
                _dt.date.fromisoformat(ds) - _dt.timedelta(days=lookback_days)
            ).isoformat()
            df = t.read(where=[("ds", ">=", lo), ("ds", "<=", ds)])
        else:
            df = t.read()
    else:
        df = spark.read.parquet(input_path)
        if ds is not None and "ds" in df.columns:
            # partition values may be type-inferred (DATE); compare as
            # string. Both bounds are partition filters -> only
            # lookback+1 days scanned.
            lo = F.date_sub(F.lit(ds).cast("date"), lookback_days).cast(
                "string"
            )
            df = df.filter(
                (F.col("ds").cast("string") >= lo)
                & (F.col("ds").cast("string") <= ds)
            )
    snaps = spark.read.parquet(snapshots_path) if snapshots_path else None
    feat = build_turn_features(
        with_ts_seconds(df),
        gap_horizon_seconds=lookback_days * 86400.0,
        # snapshot as-of backfill rides the heavy-hitter router
        # (plans/skew.py:asof_join_auto): mega-conversations take the
        # (conv, time_chunk) skew-parallel form, the rest the standard
        # one-scan-per-key form
        snapshots=snaps,
    )
    cols = list(FEATURE_COLUMNS)
    if snaps is not None:
        cols += ["asof_ts", "feature_state"]
    if config:
        from featuregenerator_spark.spec import compile_spec, parse_config

        for s in parse_config(config):
            feat = feat.withColumn(s.feature_name, compile_spec(s, feat))
            cols.append(s.feature_name)
    if ds is not None and "ds" in feat.columns:
        feat = feat.filter(F.col("ds").cast("string") == ds)
    return feat.select(*cols)


def _refuse_legacy_output(spark, output: str) -> None:
    """Stop before any write when ``output`` holds the commit log of the
    retired per-partition writer: its ``snapshot=N`` dirs are invisible
    to a snapshot table, so every unit would be committed again beside
    them."""
    jvm = spark.sparkContext._jvm
    log = jvm.org.apache.hadoop.fs.Path(
        f"{output.rstrip('/')}/_manifests/commits.jsonl"
    )
    fs = log.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(log):
        raise ValueError(
            f"--output {output} holds a legacy _manifests/commits.jsonl "
            "commit log; write to a new --output (units are committed as "
            "snapshot-table commits now)"
        )


def run_units(
    spark,
    input_path: str,
    output: str,
    make_df,
    input_format: str = "parquet",
    ds_from: str | None = None,
    ds_to: str | None = None,
) -> dict:
    """Discover the input's day units, commit each one not yet committed
    as one append snapshot of ``output``, and return the run report.

    The days are the input's distinct non-NULL ``ds`` values within
    [ds_from, ds_to]: a snapshot input names them from its manifest's
    per-file ``ds`` bounds, a parquet input by a distinct scan. Rows
    whose ``ds`` is NULL belong to no unit. An input without ``ds`` is
    one unit keyed "all". ``make_df(ds)`` builds one unit's frame, with
    ``ds`` None for the "all" unit. The report comes from metadata: the
    resume set plus this run's keys, and the manifest's row counts."""
    _refuse_legacy_output(spark, output)
    if input_format == "snapshot":
        all_days = SnapshotTable(spark, input_path).distinct_values("ds")
    else:
        src = spark.read.parquet(input_path)
        all_days = [
            r["ds"]
            for r in src.where(F.col("ds").isNotNull())
            .select(F.col("ds").cast("string").alias("ds"))
            .distinct()
            .orderBy("ds")
            .collect()
        ] if "ds" in src.columns else None
    if all_days is None:
        keys, unit = ["all"], lambda _key: make_df(None)
    else:
        keys = [
            d for d in all_days
            if (not ds_from or d >= ds_from) and (not ds_to or d <= ds_to)
        ]
        unit = make_df

    table = SnapshotTable(spark, output)
    done = table.committed_partitions()
    new_versions = run_resumable_snapshots(
        spark, keys, unit, output, stats_cols=STATS_COLS, done=done
    )
    v = table.current_version()
    return {
        "committed_units": len(done | set(keys)),
        "new_units": len(new_versions),
        "total_rows": 0 if v is None else table.row_count(table.snapshot(v)),
        "output": output,
        "output_format": "snapshot",
        "snapshot_version": v,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", help="FeatureConfig JSON file (extra features)")
    ap.add_argument(
        "--snapshots",
        help="feature-snapshot parquet (conv_id, snap_ts, feature_state) "
        "for the as-of backfill; mega-conversations auto-route to the "
        "skew-parallel chunked join",
    )
    ap.add_argument("--ds-from")
    ap.add_argument("--ds-to")
    ap.add_argument(
        "--input-format",
        choices=["parquet", "snapshot"],
        default="parquet",
        help="'snapshot' reads an Iceberg-protocol snapshot table "
        "(sources/snapshots.py); day units prune via manifest ds-stats",
    )
    ap.add_argument(
        "--output-format",
        choices=["snapshot"],
        default="snapshot",
        help="each day unit commits as one atomic snapshot (resume = skip "
        "keys already in committed manifests); the only value",
    )
    ap.add_argument("--app-name", default="fg-spark-job")
    args = ap.parse_args(argv)

    from featuregenerator_spark.session import get_spark

    spark = get_spark(args.app_name)
    config = None
    if args.config:
        with open(args.config) as f:
            config = json.load(f)

    report = run_units(
        spark,
        args.input,
        args.output,
        lambda ds: build_features_df(
            spark,
            args.input,
            ds,
            config,
            snapshots_path=args.snapshots,
            input_format=args.input_format,
        ),
        input_format=args.input_format,
        ds_from=args.ds_from,
        ds_to=args.ds_to,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
