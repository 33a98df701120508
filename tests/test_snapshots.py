"""Snapshot tables (sources/snapshots.py): atomic CAS commits, snapshot
isolation, time travel, optimistic-concurrency rebase, crash-orphan
invisibility, and vacuum."""

import json

import pytest

from pyspark.sql import functions as F

from featuregenerator_spark.sources.snapshots import (
    CommitConflict,
    SnapshotTable,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert t.current_version() is None
    v1 = t.commit_append(_df(spark, 0, 5, "a"), summary={"job": "x"})
    v2 = t.commit_append(_df(spark, 5, 8, "b"))
    v3 = t.commit_overwrite(_df(spark, 100, 103, "c"))
    assert (v1, v2, v3) == (1, 2, 3)
    assert t.versions() == [1, 2, 3]
    # latest = the overwrite
    assert _ids(t.read()) == [100, 101, 102]
    # time travel: every version stays exactly readable
    assert _ids(t.read(1)) == [0, 1, 2, 3, 4]
    assert _ids(t.read(2)) == [0, 1, 2, 3, 4, 5, 6, 7]
    snap = t.snapshot(3)
    assert snap["operation"] == "overwrite" and snap["parent"] == 2
    assert t.snapshot(1)["summary"] == {"job": "x"}


def test_reader_plan_is_isolated_from_later_commits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 4, "a"))
    pinned = t.read()  # resolves v1's file set NOW
    t.commit_overwrite(_df(spark, 50, 52, "b"))
    # the pre-commit plan still reads v1's files — never torn
    assert _ids(pinned) == [0, 1, 2, 3]
    assert _ids(t.read()) == [50, 51]


def test_lost_cas_race_rebases_append(spark, tmp_path, monkeypatch):
    """A writer that loses the version-N rename must re-read the winning
    manifest and retry at N+1 with its file list REBASED on the winner's
    (Iceberg's commit loop). Simulated by having a racer publish v2
    between the loser's version resolution and its CAS."""
    base = str(tmp_path / "t")
    t = SnapshotTable(spark, base)
    t.commit_append(_df(spark, 0, 3, "a"))

    racer = SnapshotTable(spark, base)
    loser = SnapshotTable(spark, base)
    real_publish = loser._try_publish
    state = {"raced": False}

    def racing_publish(manifest):
        if not state["raced"]:
            state["raced"] = True
            racer.commit_append(_df(spark, 10, 12, "racer"))
        return real_publish(manifest)

    monkeypatch.setattr(loser, "_try_publish", racing_publish)
    v = loser.commit_append(_df(spark, 20, 22, "loser"))
    assert v == 3  # lost v2 to the racer, landed at v3
    # v3 contains ALL THREE commits' rows: the rebase kept the racer's
    assert _ids(t.read(3)) == [0, 1, 2, 10, 11, 20, 21]
    assert _ids(t.read(2)) == [0, 1, 2, 10, 11]


def test_exhausted_retries_raise(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(t, "_try_publish", lambda m: False)
    with pytest.raises(CommitConflict):
        t.commit_append(_df(spark, 0, 2, "a"), max_retries=3)


def test_crashed_writer_is_invisible_and_vacuumable(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 3, "a"))
    # simulated crash: data written, manifest never published
    orphan = t._write_data(_df(spark, 90, 95, "crash"))
    assert _ids(t.read()) == [0, 1, 2]  # reader never lists the orphan
    removed = t.vacuum_orphans()
    assert f"data/{orphan}" in removed
    # published data untouched, still readable
    assert _ids(t.read()) == [0, 1, 2]
    assert t.vacuum_orphans() == []


def test_manifests_are_valid_json_and_immutable_set(spark, tmp_path):
    base = str(tmp_path / "t")
    t = SnapshotTable(spark, base)
    t.commit_append(_df(spark, 0, 2, "a"))
    before = t._read_file(t._meta("v1.json"))
    t.commit_append(_df(spark, 2, 4, "b"))
    after = t._read_file(t._meta("v1.json"))
    assert before == after  # old manifests never rewritten
    m = json.loads(after)
    assert m["version"] == 1 and m["operation"] == "append"


def test_kill_and_resume_against_real_snapshots(spark, tmp_path):
    """The north-rule resumability contract on REAL snapshots: a run
    killed mid-partition leaves only committed snapshots (plus an
    invisible orphan if it died between data write and publish); the
    restart processes exactly the remaining keys, never duplicates a
    committed one, and the final table reads as the full union."""
    from featuregenerator_spark.sources.snapshots import (
        run_resumable_snapshots,
    )

    base = str(tmp_path / "t")
    keys = ["d1", "d2", "d3", "d4"]
    spans = {"d1": (0, 3), "d2": (3, 7), "d3": (7, 8), "d4": (8, 12)}
    calls = []

    def make_df(key):
        calls.append(key)
        if key == "d3" and len([c for c in calls if c == "d3"]) == 1:
            raise RuntimeError("simulated kill mid-run")
        lo, hi = spans[key]
        return _df(spark, lo, hi, key)

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable_snapshots(spark, keys, make_df, base)
    t = SnapshotTable(spark, base)
    assert t.committed_partitions() == {"d1", "d2"}

    # a writer can ALSO die between data write and manifest publish —
    # that orphan must stay invisible to the resumed run and its readers
    t._write_data(_df(spark, 7, 8, "crash"))

    v2 = run_resumable_snapshots(spark, keys, make_df, base)
    assert len(v2) == 2  # only d3, d4 ran
    assert calls.count("d1") == 1 and calls.count("d2") == 1
    assert t.committed_partitions() == set(keys)
    assert _ids(t.read()) == list(range(12))  # no dup, no loss, no orphan


def test_streaming_sink_commits_batches_exactly_once(spark, tmp_path):
    """foreachBatch -> SnapshotTable: every micro-batch is one append
    snapshot keyed by batch_id; a REPLAYED batch (failure between the
    snapshot CAS and the checkpoint advance) is skipped, so the table
    never double-counts; a restart with new data appends only new
    batches."""
    from featuregenerator_spark.streaming.stream_features import (
        stream_to_snapshots,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _df(spark, 0, 5, "a").coalesce(1).write.mode("overwrite").parquet(
        str(src / "f1")
    )

    stream = spark.readStream.schema("id long, tag string").parquet(
        str(src / "*")
    )
    q = stream_to_snapshots(stream, base, ckpt)
    q.processAllAvailable()
    q.stop()

    t = SnapshotTable(spark, base)
    assert _ids(t.read()) == [0, 1, 2, 3, 4]
    v_after_first = t.current_version()

    # simulate the replay a crash between commit and checkpoint causes:
    # re-invoking the batch commit with an already-committed batch_id
    # must be a no-op (and report the skip)
    from featuregenerator_spark.streaming.stream_features import (
        commit_stream_batch,
    )

    replay_id = next(
        d
        for v in t.versions()
        if (d := t.snapshot(v)["summary"].get("stream_batch_id")) is not None
    )
    before = t.versions()
    assert (
        commit_stream_batch(
            base, _df(spark, 0, 5, "a"), replay_id, stream_id=ckpt
        )
        is False
    )
    assert t.versions() == before
    assert _ids(t.read()) == [0, 1, 2, 3, 4]

    # a DIFFERENT stream (new checkpoint) reusing batch id 0 is NOT a
    # replay — its batches are scoped by its own checkpoint identity
    assert (
        commit_stream_batch(
            base, _df(spark, 100, 102, "other"), replay_id,
            stream_id=str(tmp_path / "ckpt2"),
        )
        is True
    )
    assert _ids(t.read()) == [0, 1, 2, 3, 4, 100, 101]

    # restart with NEW data: only the new batch commits
    _df(spark, 5, 8, "b").coalesce(1).write.mode("overwrite").parquet(
        str(src / "f2")
    )
    q2 = stream_to_snapshots(
        spark.readStream.schema("id long, tag string").parquet(str(src / "*")),
        base,
        ckpt,
    )
    q2.processAllAvailable()
    q2.stop()
    assert _ids(t.read()) == list(range(8)) + [100, 101]
    assert t.current_version() > v_after_first


# ---- manifest column stats + file skipping ------------------------------


def _stats_table(spark, base):
    """Three appends with DISJOINT id ranges so file skipping is
    provable from manifest stats alone."""
    t = SnapshotTable(spark, base, stats_cols=["id"])
    t.commit_append(_df(spark, 0, 5, "a"))
    t.commit_append(_df(spark, 5, 10, "b"))
    t.commit_append(_df(spark, 10, 15, "c"))
    return t


def test_manifest_records_per_file_stats(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    snap = t.snapshot()
    assert len(snap["files"]) == 3
    ranges = sorted(
        tuple(snap["stats"][f]["cols"]["id"]) for f in snap["files"]
    )
    assert ranges == [(0, 4), (5, 9), (10, 14)]
    assert all(snap["stats"][f]["rows"] == 5 for f in snap["files"])


def test_file_skipping_prunes_plan_and_read_is_exact(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    # between 6 and 8 can only live in the middle file
    kept, pruned = t.plan_scan([("id", "between", 6, 8)])
    assert len(kept) == 1 and len(pruned) == 2
    assert _ids(t.read(where=[("id", "between", 6, 8)])) == [6, 7, 8]
    # >= 12: only the last file survives the plan
    kept, pruned = t.plan_scan([("id", ">=", 12)])
    assert len(kept) == 1 and len(pruned) == 2
    assert _ids(t.read(where=[("id", ">=", 12)])) == [12, 13, 14]
    # conjunction: each predicate prunes independently
    kept, pruned = t.plan_scan([("id", ">=", 5), ("id", "<", 10)])
    assert len(kept) == 1 and len(pruned) == 2
    # fully-pruned plan: empty result, schema intact
    empty = t.read(where=[("id", ">", 1000)])
    assert empty.count() == 0 and empty.columns == ["id", "tag"]


def test_missing_stats_never_prune(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))  # no stats_cols
    t.commit_append(_df(spark, 0, 5, "a"))
    t.commit_append(_df(spark, 5, 10, "b"))
    kept, pruned = t.plan_scan([("id", ">=", 7)])
    assert len(kept) == 2 and pruned == []
    # residual filter still makes the read exact
    assert _ids(t.read(where=[("id", ">=", 7)])) == [7, 8, 9]


# ---- copy-on-write DELETE / MERGE ---------------------------------------


def test_cow_delete_rewrites_only_affected_files(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    before = t.snapshot()
    v = t.commit_delete_where([("id", "between", 6, 8)])
    assert v == 4
    after = t.snapshot()
    untouched = set(before["files"]) & set(after["files"])
    # the two unaffected files are carried BY REFERENCE (same names)
    assert len(untouched) == 2
    assert after["operation"] == "delete"
    assert _ids(t.read()) == [0, 1, 2, 3, 4, 5, 9, 10, 11, 12, 13, 14]
    # time travel: the pre-delete version is untouched
    assert _ids(t.read(3)) == list(range(15))
    # carried files keep their stats; the rewritten file has fresh ones
    new_file = (set(after["files"]) - untouched).pop()
    assert tuple(after["stats"][new_file]["cols"]["id"]) == (5, 9)


def test_cow_delete_noop_when_nothing_matches(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    assert t.commit_delete_where([("id", ">", 1000)]) == 3
    assert t.current_version() == 3


def test_cow_delete_null_predicate_rows_survive(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 9.0)], "id long, v double"
    )
    t.commit_append(df)
    t.commit_delete_where([("v", ">", 5.0)])
    # SQL DELETE: the NULL-predicate row is NOT deleted
    assert _ids(t.read()) == [0, 1]


def test_cow_merge_upserts_and_inserts(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(6, "upd"), (7, "upd"), (100, "new")], "id long, tag string"
    )
    v = t.commit_merge(src, on=["id"])
    assert v == 4
    rows = {r["id"]: r["tag"] for r in t.read().collect()}
    assert rows[6] == "upd" and rows[7] == "upd" and rows[100] == "new"
    assert rows[5] == "b" and rows[0] == "a" and len(rows) == 16
    after = t.snapshot()
    # only the middle file (ids 5-9) was rewritten; two carried by name
    untouched = set(t.snapshot(3)["files"]) & set(after["files"])
    assert len(untouched) == 2 and after["operation"] == "merge"


def test_cow_merge_insert_only_when_no_keys_match(spark, tmp_path):
    t = _stats_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([(500, "new")], "id long, tag string")
    t.commit_merge(src, on=["id"])
    after = t.snapshot()
    # pure insert: ALL prior files carried by reference
    assert set(t.snapshot(3)["files"]) <= set(after["files"])
    assert _ids(t.read()) == list(range(15)) + [500]


def test_cow_rewrite_rebases_over_disjoint_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A concurrent APPEND between the delete's read and its publish
    touches no file the delete rewrote — the delete must rebase and
    keep the appended rows (Iceberg's validation passes)."""
    base = str(tmp_path / "t")
    t = _stats_table(spark, base)
    racer = SnapshotTable(spark, base)
    real_publish = t._try_publish
    state = {"raced": False}

    def racing_publish(manifest):
        if not state["raced"]:
            state["raced"] = True
            racer.commit_append(_df(spark, 200, 202, "racer"))
        return real_publish(manifest)

    monkeypatch.setattr(t, "_try_publish", racing_publish)
    v = t.commit_delete_where([("id", "between", 6, 8)])
    assert v == 5  # racer took v4
    assert _ids(t.read()) == (
        [0, 1, 2, 3, 4, 5, 9, 10, 11, 12, 13, 14, 200, 201]
    )


def test_cow_rewrite_conflicts_with_overlapping_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A concurrent OVERWRITE removed the files this delete rewrote;
    blindly publishing would resurrect replaced data — must raise."""
    base = str(tmp_path / "t")
    t = _stats_table(spark, base)
    racer = SnapshotTable(spark, base)
    real_publish = t._try_publish
    state = {"raced": False}

    def racing_publish(manifest):
        if not state["raced"]:
            state["raced"] = True
            racer.commit_overwrite(_df(spark, 300, 303, "racer"))
        return real_publish(manifest)

    monkeypatch.setattr(t, "_try_publish", racing_publish)
    with pytest.raises(CommitConflict, match="rewritten by a concurrent"):
        t.commit_delete_where([("id", "between", 6, 8)])
    # the racer's overwrite is intact
    assert _ids(t.read()) == [300, 301, 302]


# ---- retention ------------------------------------------------------------


def test_expire_snapshots_then_vacuum_reclaims_dead_files(spark, tmp_path):
    base = str(tmp_path / "t")
    t = SnapshotTable(spark, base)
    t.commit_append(_df(spark, 0, 3, "a"))
    t.commit_overwrite(_df(spark, 10, 13, "b"))  # v1's file now dead at v2+
    t.commit_append(_df(spark, 20, 22, "c"))
    v1_files = set(t.snapshot(1)["files"])
    assert t.expire_snapshots(keep_last=2) == [1]
    assert t.versions() == [2, 3]
    removed = t.vacuum_orphans()
    assert {f"data/{f}" for f in v1_files} <= set(removed)
    # retained versions still read exactly
    assert _ids(t.read(2)) == [10, 11, 12]
    assert _ids(t.read(3)) == [10, 11, 12, 20, 21]
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


# ---- manifest-tracked schema evolution -------------------------------------


def test_schema_of_record_additive_evolution(spark, tmp_path):
    """The committing frame's schema is the snapshot's schema of record
    (tracked in the manifest, Iceberg-style — never a footer union):
    after an append adds a column, the latest read projects OLD files to
    the new schema (NULL for the new column), while time travel to the
    pre-evolution version still reads the old schema exactly."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 3, "a"))
    evolved = _df(spark, 3, 5, "b").withColumn("score", F.col("id") * 10.0)
    t.commit_append(evolved)
    latest = t.read()
    assert latest.columns == ["id", "tag", "score"]
    rows = {r["id"]: r["score"] for r in latest.collect()}
    assert rows[0] is None and rows[3] == 30.0 and rows[4] == 40.0
    # pre-evolution version: old schema, no phantom column
    assert t.read(1).columns == ["id", "tag"]


def test_cow_rewrite_preserves_evolved_schema(spark, tmp_path):
    """A COW delete over a MIXED-schema file set must project to the
    declared schema — footer inference could otherwise silently drop
    the evolved column from the rewritten file."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 4, "a"))
    t.commit_append(
        _df(spark, 4, 8, "b").withColumn("score", F.col("id") * 1.0)
    )
    t.commit_delete_where([("id", "=", 2)])
    out = t.read()
    assert out.columns == ["id", "tag", "score"]
    assert _ids(out) == [0, 1, 3, 4, 5, 6, 7]
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert rows[0] is None and rows[5] == 5.0


# ---- per-file stats + clustered rewrite -------------------------------------


def test_per_file_stats_prune_within_a_dir(spark, tmp_path):
    """Manifest stats are per data FILE (Iceberg granularity): one
    commit whose part-files cover disjoint key slices prunes at file
    level even though the dir-level range spans everything."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    # one commit, 4 range-partitioned files with disjoint id slices
    df = spark.range(0, 100).repartitionByRange(4, "id")
    t.commit_append(df.select("id"))
    snap = t.snapshot()
    assert len(snap["files"]) == 1
    fstats = snap["stats"][snap["files"][0]]["files"]
    assert len(fstats) == 4
    kept, pruned = t.plan_files([("id", "between", 10, 15)])
    assert len(kept) == 1 and len(pruned) == 3
    assert _ids(t.read(where=[("id", "between", 10, 15)])) == list(
        range(10, 16)
    )
    # dir-level plan_scan still keeps the dir as one unit
    kept_d, pruned_d = t.plan_scan([("id", "between", 10, 15)])
    assert len(kept_d) == 1 and pruned_d == []


def test_rewrite_clustered_tightens_file_skipping(spark, tmp_path):
    """The rewriteDataFiles story: a hash-scattered layout prunes
    nothing for a range predicate; after rewrite_clustered the same
    read keeps only the files whose slice intersects the range, and the
    content is identical (and the old layout stays time-travelable)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    scattered = spark.range(0, 1000).repartition(8, "id").select("id")
    t.commit_append(scattered)
    where = [("id", "between", 100, 150)]
    kept0, pruned0 = t.plan_files(where)
    assert pruned0 == []  # every hash file spans ~the full range
    v = t.rewrite_clustered(F.col("id"), n_files=8)
    assert t.snapshot(v)["operation"] == "overwrite"
    kept1, pruned1 = t.plan_files(where)
    assert len(pruned1) >= 6, (kept1, pruned1)
    assert _ids(t.read(where=where)) == list(range(100, 151))
    # content identity + time travel to the old layout
    assert _ids(t.read()) == list(range(1000))
    assert _ids(t.read(1)) == list(range(1000))


# ---- incremental append scan + metadata tables ------------------------------


def test_read_incremental_returns_only_appended_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5, "a"))
    t.commit_append(_df(spark, 5, 8, "b"))
    t.commit_append(_df(spark, 8, 12, "c"))
    assert _ids(t.read_incremental(1)) == list(range(5, 12))
    assert _ids(t.read_incremental(1, 2)) == [5, 6, 7]
    assert _ids(t.read_incremental(2, 3)) == [8, 9, 10, 11]
    assert _ids(t.read_incremental(0, 1)) == [0, 1, 2, 3, 4]
    # empty diff: same version on both sides
    assert t.read_incremental(2, 2).count() == 0


def test_read_incremental_refuses_non_append_ranges(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5, "a"))
    t.commit_delete_where([("id", "=", 2)])
    t.commit_append(_df(spark, 10, 12, "b"))
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(1)
    # a range strictly after the delete is fine
    assert _ids(t.read_incremental(2, 3)) == [10, 11]


def test_history_and_files_metadata_tables(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["id"])
    t.commit_append(_df(spark, 0, 5, "a"), summary={"job": "x"})
    t.commit_overwrite(_df(spark, 10, 14, "b"))
    h = {r["version"]: r for r in t.history().collect()}
    assert h[1]["operation"] == "append" and h[1]["parent"] is None
    assert h[2]["operation"] == "overwrite" and h[2]["parent"] == 1
    assert h[1]["rows"] == 5 and h[2]["rows"] == 4
    assert "\"job\": \"x\"" in h[1]["summary"]
    f = t.files().collect()
    assert sum(r["rows"] for r in f) == 4  # current = the overwrite
    assert all(r["bounds"] is not None for r in f)


# ---- review fixes: retention ledger, OCC append conflicts, vacuum age -------


def test_expire_preserves_resume_ledger(spark, tmp_path):
    """expire_snapshots must not erase the exactly-once record: after
    retention drops the manifests of committed partitions, a resumed
    ingest still skips them (summaries live on in the ledger)."""
    from featuregenerator_spark.sources.snapshots import (
        run_resumable_snapshots,
    )

    base = str(tmp_path / "t")
    keys = ["d1", "d2", "d3"]
    spans = {"d1": (0, 3), "d2": (3, 5), "d3": (5, 9)}
    calls = []

    def make_df(k):
        calls.append(k)
        return _df(spark, *spans[k], k)

    run_resumable_snapshots(spark, keys, make_df, base)
    t = SnapshotTable(spark, base)
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    # resume over the same keys: NOTHING re-commits
    run_resumable_snapshots(spark, keys, make_df, base)
    assert calls == keys  # each key built exactly once, ever
    assert t.committed_partitions() == {"d1", "d2", "d3"}
    assert t.versions() == [3]


def test_cow_merge_conflicts_with_concurrent_append_of_same_key(
    spark, tmp_path, monkeypatch
):
    """Serializable validation: a concurrent APPEND carrying one of the
    merge keys would coexist with the merged row after a blind rebase
    (two rows per key) — must raise instead."""
    base = str(tmp_path / "t")
    t = _stats_table(spark, base)
    racer = SnapshotTable(spark, base)
    real_publish = t._try_publish
    state = {"raced": False}

    def racing_publish(manifest):
        if not state["raced"]:
            state["raced"] = True
            racer.commit_append(_df(spark, 6, 7, "racer"))  # key 6!
        return real_publish(manifest)

    monkeypatch.setattr(t, "_try_publish", racing_publish)
    src = spark.createDataFrame([(6, "upd")], "id long, tag string")
    with pytest.raises(CommitConflict, match="appended rows"):
        t.commit_merge(src, on=["id"])
    # a DISJOINT concurrent append still rebases fine
    state["raced"] = False
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), stats_cols=["id"])
    t2.commit_append(_df(spark, 0, 5, "a"))
    real2 = t2._try_publish

    def racing2(manifest):
        if not state["raced"]:
            state["raced"] = True
            SnapshotTable(spark, str(tmp_path / "t2")).commit_append(
                _df(spark, 50, 52, "racer")
            )
        return real2(manifest)

    monkeypatch.setattr(t2, "_try_publish", racing2)
    t2.commit_merge(src, on=["id"])  # key 6 not in the racer's rows
    assert _ids(t2.read()) == [0, 1, 2, 3, 4, 6, 50, 51]


def test_vacuum_age_guard_protects_inflight_commits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 3, "a"))
    orphan = t._write_data(_df(spark, 90, 95, "inflight"))
    # a fresh unreferenced dir is an IN-FLIGHT commit, not garbage
    assert t.vacuum_orphans(min_age_seconds=3600) == []
    # age 0 (explicit) reclaims it
    assert f"data/{orphan}" in t.vacuum_orphans()


def test_delete_all_rows_leaves_readable_empty_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5, "a"))
    t.commit_delete_where([("id", ">=", 0)])
    out = t.read()
    assert out.count() == 0 and out.columns == ["id", "tag"]
    # the delete manifest still carries the schema of record
    assert t.snapshot()["schema"]["fields"][0]["name"] == "id"


# ---- manifest stats from parquet footers ------------------------------------


def _aggregate_stats(spark, path, stats_cols):
    """The job-based stats pass the footer reader replaced, kept as its
    oracle: one grouped aggregate over the data dir, per input file.
    Unchanged except for timestamp_ntz, which cannot cast to double: it
    goes through the session-zone timestamp first."""
    df = spark.read.parquet(path)
    present = [c for c in stats_cols if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in present:
        col = F.col(c)
        dt = dict(df.dtypes)[c]
        if dt == "timestamp_ntz":
            col = col.cast("timestamp")
        if dt.startswith("timestamp"):
            col = col.cast("double")
        elif dt == "date":
            col = col.cast("string")
        aggs.append(F.min(col).alias(f"__mn_{c}"))
        aggs.append(F.max(col).alias(f"__mx_{c}"))
    rows = (
        df.withColumn(
            "__f", F.regexp_extract(F.input_file_name(), "([^/]+)$", 1)
        )
        .groupBy("__f")
        .agg(*aggs)
        .collect()
    )
    files = {
        r["__f"]: {
            "rows": r["__rows"],
            "cols": {c: [r[f"__mn_{c}"], r[f"__mx_{c}"]] for c in present},
        }
        for r in rows
    }
    cols = {}
    for c in present:
        mns = [f["cols"][c][0] for f in files.values()
               if f["cols"][c][0] is not None]
        mxs = [f["cols"][c][1] for f in files.values()
               if f["cols"][c][1] is not None]
        cols[c] = [min(mns) if mns else None, max(mxs) if mxs else None]
    return {
        "rows": sum(f["rows"] for f in files.values()),
        "cols": cols,
        "files": files,
    }


def _footer_view(oracle):
    """The oracle as footers can state it: parquet writes no min/max for
    a float chunk holding NaN (NaN has no defined parquet order), so a
    NaN-holding range becomes unknown ``[None, None]`` for the file and
    for its dir."""
    def has_nan(b):
        return any(isinstance(v, float) and v != v for v in b)

    files = {
        f: {"rows": fs["rows"],
            "cols": {c: [None, None] if has_nan(b) else b
                     for c, b in fs["cols"].items()}}
        for f, fs in oracle["files"].items()
    }
    cols = {}
    for c, b in oracle["cols"].items():
        if any(has_nan(fs["cols"][c]) for fs in oracle["files"].values()):
            b = [None, None]
        cols[c] = b
    return {"rows": oracle["rows"], "cols": cols, "files": files}


_STAT_COLS = ["i", "l", "d", "s", "dt", "ts", "ntz", "nul", "absent"]


def _typed_frame(spark, n=40, parts=4):
    """One column per manifest stats domain. ``d`` holds NaN in rows
    12-14 only, so exactly one of the four files holds NaN; ``part_null``
    is NULL in the whole first file."""
    return spark.range(0, n, numPartitions=parts).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id") * 10_000_000_000).alias("l"),
        F.when(F.col("id").between(12, 14), F.lit(float("nan")))
        .otherwise(F.col("id") / 3 - 4).alias("d"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("s"),
        F.expr("date_add(date'2023-12-30', cast(id as int))").alias("dt"),
        F.expr("timestamp_micros(1700000000000000 + id * 1234567)").alias("ts"),
        F.expr(
            "cast(timestamp_micros(1700000000000000 - id * 7654321)"
            " as timestamp_ntz)"
        ).alias("ntz"),
        F.lit(None).cast("long").alias("nul"),
        F.when(F.col("id") >= n // parts, F.col("id")).alias("part_null"),
    )


def test_footer_stats_equal_the_aggregate_oracle(spark, tmp_path):
    cols = _STAT_COLS + ["part_null"]
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=cols)
    frames = {
        "four range files": _typed_frame(spark),
        "four round-robin files": _typed_frame(spark).repartition(4),
        "one file": _typed_frame(spark, n=9, parts=1),
        "empty": _typed_frame(spark).limit(0),
    }
    for label, df in frames.items():
        t.commit_append(df)
        d = t.snapshot()["files"][-1]
        want = _footer_view(
            _aggregate_stats(spark, f"{t.base}/data/{d}", cols)
        )
        got = t.snapshot()["stats"][d]
        assert got == want, label
    # the ranges were really exercised, not all unknown
    first = t.snapshot()["stats"][t.snapshot()["files"][0]]
    assert len(first["files"]) == 4 and first["rows"] == 40
    assert first["cols"]["d"] == [None, None]  # one NaN-holding file
    assert sum(fs["cols"]["d"] != [None, None]
               for fs in first["files"].values()) == 3
    assert first["cols"]["ts"][0] == 1_700_000_000.0
    assert first["cols"]["part_null"] == [10, 39]  # all-null file skipped
    assert first["cols"]["nul"] == [None, None]
    assert "absent" not in first["cols"]
    assert t.snapshot()["stats"][t.snapshot()["files"][-1]] == {
        "rows": 0, "cols": {c: [None, None] for c in cols if c != "absent"},
        "files": {},
    }


def test_commit_append_runs_only_the_write_jobs(spark, tmp_path, count_jobs):
    df = _typed_frame(spark)
    write = count_jobs(lambda: df.write.parquet(str(tmp_path / "plain")))
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=_STAT_COLS)
    commit = count_jobs(lambda: t.commit_append(df))
    assert write >= 1 and commit == write
    assert t.snapshot()["stats"][t.snapshot()["files"][0]]["rows"] == 40


def test_int96_files_and_older_manifests_read_prune_and_resume(
    spark, tmp_path
):
    """Back-compat: files written as INT96 and manifests whose stats came
    from the old aggregate pass still read, prune and resume next to
    TIMESTAMP_MICROS commits. An INT96 file committed now records null
    timestamp bounds, so it is never pruned."""
    import datetime as dt

    from featuregenerator_spark.sources.snapshots import (
        run_resumable_snapshots,
    )

    base = str(tmp_path / "t")
    day0 = dt.datetime(2024, 3, 1)  # naive: the session zone, UTC
    day0_s = (day0 - dt.datetime(1970, 1, 1)).total_seconds()

    def make_df(key):
        k = int(key[1:])
        return spark.range(0, 24).select(
            (F.col("id") + 100 * k).alias("id"),
            F.expr(
                f"timestamp_seconds({day0_s} + {k} * 86400"
                " + id * 3600 + 0.25)"
            ).alias("ts"),
        )

    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        # d0: INT96, committed by this code; d1: INT96, and its manifest
        # entry rewritten to what the aggregate pass recorded
        run_resumable_snapshots(
            spark, ["d0", "d1"], make_df, base, stats_cols=["ts"]
        )
    finally:
        spark.conf.set(conf, prev)
    t = SnapshotTable(spark, base, stats_cols=["ts"])
    d0, d1 = t.snapshot()["files"]
    assert t.snapshot()["stats"][d0]["cols"]["ts"] == [None, None]
    assert all(fs["cols"]["ts"] == [None, None]
               for fs in t.snapshot()["stats"][d0]["files"].values())
    old = t.snapshot()
    old["stats"][d1] = _aggregate_stats(spark, f"{base}/data/{d1}", ["ts"])
    assert old["stats"][d1]["cols"]["ts"][0] is not None
    t._write_file(t._meta(f"v{old['version']}.json"), json.dumps(old))

    # resume: only the missing keys commit, as TIMESTAMP_MICROS
    new = run_resumable_snapshots(
        spark, ["d0", "d1", "d2", "d3"], make_df, base, stats_cols=["ts"]
    )
    assert new == [3, 4]
    assert t.committed_partitions() == {"d0", "d1", "d2", "d3"}
    everything = make_df("d0")
    for k in ("d1", "d2", "d3"):
        everything = everything.unionByName(make_df(k))
    assert _ids(t.read()) == _ids(everything)

    # d2's day: the older manifest prunes d1, the footer stats prune d3,
    # the INT96 file with null bounds is kept
    lo, hi = day0 + dt.timedelta(days=2), day0 + dt.timedelta(days=2, hours=5)
    where = [("ts", "between", lo, hi)]
    kept, pruned = t.plan_files(where)
    assert {p.split("/")[0] for p in kept} == {d0, t.snapshot()["files"][2]}
    assert d1 in {p.split("/")[0] for p in pruned}
    assert _ids(t.read(where=where)) == list(range(200, 205))
    late = day0 + dt.timedelta(days=9)
    for where in ([("ts", "<", day0)], [("ts", ">", late)]):
        kept, pruned = t.plan_files(where)
        assert d0 in {p.split("/")[0] for p in kept}
        assert d0 not in {p.split("/")[0] for p in pruned}
        assert t.read(where=where).count() == 0


def test_distinct_values_from_bounds_then_scan(spark, tmp_path, count_jobs):
    """Days a file's ``ds`` bounds prove come from the manifest with no
    Spark job; files they do not prove are scanned. NULL is left out on
    both paths, and a column the snapshot lacks answers None."""
    schema = "id long, ds string"
    one_day = spark.createDataFrame(
        [(1, "2024-03-01"), (2, None), (3, "2024-03-01")], schema
    )
    two_days = spark.createDataFrame(
        [(4, "2024-03-03"), (5, None), (6, "2024-03-02")], schema
    ).coalesce(1)
    want = ["2024-03-01", "2024-03-02", "2024-03-03"]

    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=["ds"])
    t.commit_append(one_day.coalesce(1))
    snap = t.snapshot()
    assert count_jobs(lambda: t.distinct_values("ds", snap)) == 0
    assert t.distinct_values("ds", snap) == ["2024-03-01"]
    t.commit_append(two_days)
    assert t.distinct_values("ds") == want
    assert t.distinct_values("nope") is None

    # no stats at all: the same answer from one scan
    bare = SnapshotTable(spark, str(tmp_path / "bare"))
    bare.commit_append(one_day)
    bare.commit_append(two_days)
    assert bare.distinct_values("ds") == want

    # a pre-schema manifest: the columns come from the footers
    old = t.snapshot()
    del old["schema"]
    assert t.distinct_values("ds", old) == want
    assert t.distinct_values("nope", old) is None
