"""spark-submit job: day-chunked resumable backfill == one-shot run.

The north rule's deployment contract: per-day snapshot commits,
resumable, and point-in-time correct across unit boundaries
(lookback covers the trailing windows).
"""

from pyspark.sql import functions as F

from featuregenerator_spark import job as jobmod
from featuregenerator_spark.plans.pipeline import FEATURE_COLUMNS, build_turn_features
from featuregenerator_spark.plans.temporal import with_ts_seconds
from featuregenerator_spark.sources.snapshots import (
    SnapshotTable,
    run_resumable_snapshots,
)

# session numbering is window-relative in chunked runs (documented in
# build_features_df); every other feature must match the one-shot run
EXACT_COLS = [c for c in FEATURE_COLUMNS if not c.startswith("session")]


def test_spark_submit_pyfiles_two_parallelism_levels(spark, transcripts, tmp_path):
    """The north rule's deployment sentence, literally: the SAME
    spark-submit --py-files artifact runs UNCHANGED at two parallelism
    levels and produces identical committed feature rows. The engine zip
    is the only import source (cwd is moved off the repo), so a missing
    module in the artifact fails here, not on a cluster. Also guards the
    get_spark master-passthrough: --master from spark-submit must win
    over the builder default."""
    import json
    import os
    import shutil
    import subprocess
    import zipfile
    from pathlib import Path

    import featuregenerator_spark
    from featuregenerator_spark.sources.tables import write_partitioned_transcripts

    submit = shutil.which("spark-submit")
    if submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    pkgdir = Path(featuregenerator_spark.__file__).parent
    zp = tmp_path / "fg_spark.zip"
    with zipfile.ZipFile(zp, "w") as z:
        for p in pkgdir.rglob("*.py"):
            z.write(p, "featuregenerator_spark/" + str(p.relative_to(pkgdir)))
    jobfile = tmp_path / "job.py"
    shutil.copy(pkgdir / "job.py", jobfile)

    inp = str(tmp_path / "inp")
    write_partitioned_transcripts(transcripts, inp)

    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "PYTHONPATH")
    }
    results = {}
    for master in ("local[2]", "local[4]"):
        out = str(tmp_path / f"out_{master[6:-1]}")
        proc = subprocess.run(
            [
                submit,
                "--master", master,
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--py-files", str(zp),
                str(jobfile),
                "--input", inp,
                "--output", out,
            ],
            capture_output=True,
            text=True,
            cwd=str(tmp_path),
            env=env,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        rec = json.loads(proc.stdout.strip().splitlines()[-1])
        assert rec["committed_units"] >= 1 and rec["total_rows"] > 0, rec
        results[master] = {
            (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in EXACT_COLS[2:])
            for r in SnapshotTable(spark, out).read().select(*EXACT_COLS).collect()
        }
    assert results["local[2]"] == results["local[4]"]
    assert len(results["local[2]"]) == transcripts.count()


def test_day_chunked_backfill_matches_full_run(spark, transcripts, tmp_path):
    from featuregenerator_spark.sources.tables import write_partitioned_transcripts

    inp = str(tmp_path / "inp")
    out = str(tmp_path / "out")
    write_partitioned_transcripts(transcripts, inp)

    days = sorted(
        r["ds"]
        for r in spark.read.parquet(inp)
        .select(F.col("ds").cast("string").alias("ds"))
        .distinct()
        .collect()
    )
    # first run "crashes" after half the days; second run resumes
    half = days[: len(days) // 2]
    run_resumable_snapshots(
        spark, half, lambda d: jobmod.build_features_df(spark, inp, d, None), out
    )
    assert set(SnapshotTable(spark, out).committed_partitions()) == set(half)
    run_resumable_snapshots(
        spark, days, lambda d: jobmod.build_features_df(spark, inp, d, None), out
    )

    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in EXACT_COLS[2:])
        for r in SnapshotTable(spark, out).read().select(*EXACT_COLS).collect()
    }
    # the one-shot reference under the job's contract: gap_seconds is
    # horizon-limited to the lookback window in both paths
    full = build_turn_features(
        with_ts_seconds(transcripts), gap_horizon_seconds=86400.0
    ).select(*EXACT_COLS)
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in EXACT_COLS[2:])
        for r in full.collect()
    }
    assert len(got) == len(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, list(mismatches.items())[:3]


def test_chunked_matches_oneshot_for_idle_conversation(spark, tmp_path):
    """A conversation idle for longer than the lookback horizon must get
    the SAME gap features in a day-chunked run (which cannot see the
    pre-horizon turn) and a one-shot run (which can): gap_seconds is
    horizon-limited by contract, gap_bucket hits the top bucket either
    way (regression for the silent chunked != one-shot divergence)."""
    import datetime

    rows = []
    base = datetime.datetime(2026, 3, 1, 9, 0, 0)
    # conv "busy": turns every hour on day 1-3; conv "idle": one turn on
    # day 1, next turn on day 3 (gap ~2 days > 1-day lookback)
    for d in range(3):
        for h in range(3):
            rows.append(("busy", d * 3 + h, "user", "t", None,
                         base + datetime.timedelta(days=d, hours=h)))
    rows.append(("idle", 0, "user", "t", None, base))
    rows.append(("idle", 1, "user", "t", None,
                 base + datetime.timedelta(days=2, hours=1)))
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))

    inp = str(tmp_path / "inp")
    out = str(tmp_path / "out")
    tr.write.partitionBy("ds").parquet(inp)

    days = sorted(r["ds"] for r in tr.select("ds").distinct().collect())
    run_resumable_snapshots(
        spark, days, lambda d: jobmod.build_features_df(spark, inp, d, None), out
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (r["gap_seconds"], r["gap_bucket"])
        for r in SnapshotTable(spark, out).read().collect()
    }
    oneshot = jobmod.build_features_df(spark, inp, None, None)
    want = {
        (r["conv_id"], r["turn_idx"]): (r["gap_seconds"], r["gap_bucket"])
        for r in oneshot.collect()
    }
    assert got == want
    assert got[("idle", 1)] == (None, 8)   # beyond-horizon gap: null, top bucket
    assert got[("busy", 3)] == (3600.0 * 22, 8)  # in-horizon day-crossing gap kept


def test_job_snapshot_table_input_and_output(spark, transcripts, tmp_path):
    """The north rule's Iceberg sentence end-to-end through the job
    entry point: the transcript INPUT is a snapshot table (one commit
    per day, ds-stats in the manifest), the feature OUTPUT commits one
    atomic snapshot per day unit, and every feature row matches the
    one-shot reference. Also proves the read side actually FILE-SKIPS:
    a single day unit's scan plan keeps only the lookback window's
    day-files."""
    import datetime as dt
    import json

    in_base = str(tmp_path / "snap_in")
    out_base = str(tmp_path / "snap_out")
    tdf = transcripts.withColumn(
        "ds", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    days = sorted(r["ds"] for r in tdf.select("ds").distinct().collect())
    assert len(days) >= 3, "fixture must span days for the pruning leg"
    t_in = SnapshotTable(spark, in_base, stats_cols=["ds"])
    for d in days:
        t_in.commit_append(
            tdf.filter(F.col("ds") == d), summary={"partition_key": d}
        )

    # file-skipping proof: the job's one-day where keeps only the
    # lookback window's day-files (last day + 1 lookback day)
    last = days[-1]
    lo = (dt.date.fromisoformat(last) - dt.timedelta(days=1)).isoformat()
    kept, pruned = t_in.plan_scan([("ds", ">=", lo), ("ds", "<=", last)])
    assert len(kept) <= 2 and len(pruned) == len(days) - len(kept)

    rc = jobmod.main(
        [
            "--input", in_base,
            "--output", out_base,
            "--input-format", "snapshot",
            "--output-format", "snapshot",
        ]
    )
    assert rc == 0
    t_out = SnapshotTable(spark, out_base)
    assert set(t_out.committed_partitions()) == set(days)
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in EXACT_COLS[2:])
        for r in t_out.read().select(*EXACT_COLS).collect()
    }
    full = build_turn_features(
        with_ts_seconds(transcripts), gap_horizon_seconds=86400.0
    ).select(*EXACT_COLS)
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in EXACT_COLS[2:])
        for r in full.collect()
    }
    assert len(got) == len(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, list(mismatches.items())[:3]

    # resumability: a re-run over the same table commits NOTHING new
    rc2 = jobmod.main(
        [
            "--input", in_base,
            "--output", out_base,
            "--input-format", "snapshot",
            "--output-format", "snapshot",
        ]
    )
    assert rc2 == 0
    assert set(t_out.committed_partitions()) == set(days)
    assert t_out.read().count() == len(want)


def test_job_day_unit_runs_only_its_write_jobs(spark, tmp_path, capsys, count_jobs):
    """A day unit over a snapshot input whose manifest ds bounds prove
    its days runs no discovery scan, no stats pass and no count: exactly
    the Spark jobs of writing its feature frame. The report's totals
    come from the manifests."""
    import datetime
    import json

    base = datetime.datetime(2026, 3, 1, 9, 0, 0)
    rows = [
        (f"c{c}", t, "user", "t", None,
         base + datetime.timedelta(days=d, hours=t, minutes=c))
        for d in range(3) for c in range(4) for t in range(3)
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ).withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
    days = sorted(r["ds"] for r in tr.select("ds").distinct().collect())
    in_base, out_base = str(tmp_path / "in"), str(tmp_path / "out")
    t_in = SnapshotTable(spark, in_base, stats_cols=["ds"])
    for d in days:
        t_in.commit_append(tr.filter(F.col("ds") == d),
                           summary={"partition_key": d})

    def day_unit(ds):
        return jobmod.main([
            "--input", in_base, "--output", out_base,
            "--input-format", "snapshot", "--output-format", "snapshot",
            "--ds-from", ds, "--ds-to", ds,
        ])

    assert day_unit(days[0]) == 0  # warm: the same plan shapes again below
    capsys.readouterr()
    unit = count_jobs(lambda: day_unit(days[1]))
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    write = count_jobs(
        lambda: jobmod.build_features_df(
            spark, in_base, days[1], None, input_format="snapshot"
        ).write.parquet(str(tmp_path / "plain"))
    )
    assert write >= 1 and unit == write
    t_out = SnapshotTable(spark, out_base)
    assert report["committed_units"] == 2 and report["new_units"] == 1
    assert report["total_rows"] == t_out.read().count() == 24
    assert report["snapshot_version"] == t_out.current_version() == 2


def test_job_refuses_legacy_commit_log_output(spark, tmp_path):
    """An --output holding the retired per-partition writer's commit log
    (``_manifests/commits.jsonl`` beside ``snapshot=N`` dirs) stops the
    job before any write: a snapshot table cannot see those dirs, so
    resuming into it would commit every day a second time."""
    import pytest

    inp, out = tmp_path / "inp", tmp_path / "out"
    spark.createDataFrame(
        [("c", 0, "user", "t", None, "2026-03-01 09:00:00")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "ds", F.date_format("ts", "yyyy-MM-dd")
    ).write.partitionBy("ds").parquet(str(inp))
    (out / "_manifests").mkdir(parents=True)
    (out / "_manifests" / "commits.jsonl").write_text(
        '{"snapshot_id": 1, "partition_key": "2026-03-01", "rows": 1}\n'
    )
    with pytest.raises(ValueError, match="commits.jsonl"):
        jobmod.main(["--input", str(inp), "--output", str(out)])
    assert sorted(p.name for p in out.iterdir()) == ["_manifests"]
