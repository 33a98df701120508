"""The curation spark-submit entry: runs a declared pipeline, resumes."""

import json

from pyspark.sql import functions as F

from featuregenerator_spark.curation_job import main
from featuregenerator_spark.operators.quality_model import DEMO_BIAS, DEMO_WEIGHTS
from featuregenerator_spark.sources.snapshots import SnapshotTable

CONFIG = {
    "features": [
        {"feature_type": "text_metric", "feature_name": "n_tok",
         "metric": "token_count"},
        {"feature_type": "quality_model", "feature_name": "prob",
         "weights": DEMO_WEIGHTS, "bias": DEMO_BIAS},
        {"feature_type": "substring_trim", "feature_name": "clean",
         "k": 4, "id_column": "doc_id"},
        {"feature_type": "filter", "feature_name": "keep",
         "predicate": "prob >= 0.3 AND n_tok >= 3"},
    ]
}


def _write_docs(spark, path, with_ds):
    rows = []
    for i in range(40):
        ds = f"2026-01-0{1 + i % 2}"
        text = "the a of and data " + " ".join(f"w{i}x{j}" for j in range(6))
        if i % 10 == 0:
            text = "the a of and data shared dup span here ok"  # cross-doc dups
        rows.append((i, text, ds))
    df = spark.createDataFrame(rows, "doc_id long, text string, ds string")
    if with_ds:
        df.write.partitionBy("ds").mode("overwrite").parquet(path)
    else:
        df.drop("ds").write.mode("overwrite").parquet(path)


def test_curation_job_runs_filters_and_resumes(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "curated")
    _write_docs(spark, inp, with_ds=True)
    cfg = tmp_path / "curation.json"
    cfg.write_text(json.dumps(CONFIG))

    assert main(["--input", inp, "--output", out, "--config", str(cfg)]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["committed_units"] == 2  # one per ds
    assert 0 < stats["total_rows"] <= 40

    table = SnapshotTable(spark, out)
    res = table.read()
    # the report has job.py's keys, its totals from the manifest
    assert stats["total_rows"] == res.count()
    assert stats["snapshot_version"] == table.current_version() == 2
    assert stats["output_format"] == "snapshot"
    # declared columns exist; the filter was applied
    assert {"n_tok", "prob", "clean", "clean_removed"} <= set(res.columns)
    assert res.filter(F.col("prob") < 0.3).count() == 0
    # the trimmed dup docs lost their shared span (canonical survives)
    trimmed = res.filter(F.col("clean_removed") > 0)
    assert trimmed.count() >= 2

    # resume: nothing new on a second run
    assert main(["--input", inp, "--output", out, "--config", str(cfg)]) == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["new_units"] == 0
    assert stats2["committed_units"] == 2
    assert stats2["total_rows"] == stats["total_rows"]
    assert stats2["snapshot_version"] == 2


def test_curation_job_single_unit_without_ds(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "curated")
    _write_docs(spark, inp, with_ds=False)
    cfg = tmp_path / "curation.json"
    cfg.write_text(json.dumps(CONFIG))
    assert main(
        ["--input", inp, "--output", out, "--config", str(cfg),
         "--repartition", "4"]
    ) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["committed_units"] == 1
    assert SnapshotTable(spark, out).committed_partitions() == {"all"}


def test_curation_job_session6_types_end_to_end(spark, tmp_path, capsys):
    # the deployment entry runs the session-6 spec types unchanged:
    # perplexity score -> paragraph dedup -> fluency filter -> mixture
    path = str(tmp_path / "docs6")
    rows = []
    for i in range(30):
        text = f"alpha beta gamma delta w{i % 5}\nshared footer line"
        rows.append((i, text, "s" + str(i % 2)))
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(path)
    config = {"features": [
        {"feature_type": "lm_perplexity", "feature_name": "ppl",
         "id_column": "doc_id", "keep_logppl": 99.0},
        {"feature_type": "paragraph_dedup", "feature_name": "clean",
         "id_column": "doc_id"},
        {"feature_type": "filter", "feature_name": "fluent",
         "predicate": "ppl_keep = 1"},
        {"feature_type": "source_mix", "feature_name": "copy_idx",
         "id_column": "doc_id", "source_column": "source",
         "rates": {"s0": 2.0, "s1": 1.0}},
    ]}
    cfg = tmp_path / "c6.json"
    cfg.write_text(json.dumps(config))
    out_dir = str(tmp_path / "out6")
    rc = main(["--input", path, "--output", out_dir, "--config", str(cfg)])
    assert rc == 0
    got = SnapshotTable(spark, out_dir).read()
    # s0 docs doubled, s1 single (all docs pass the 99.0 keep bound)
    counts = {r["source"]: r["count"]
              for r in got.groupBy("source").count().collect()}
    assert counts == {"s0": 30, "s1": 15}
    one = got.filter("doc_id = 1").dropDuplicates(["doc_id"]).collect()[0]
    # the shared footer paragraph survives only in doc 0's copy
    assert one["clean"] == "alpha beta gamma delta w1"
    assert one["ppl_keep"] == 1 and one["ppl"] is not None


def test_curation_job_chunk_pack_end_to_end(spark, tmp_path, capsys):
    # the deployment entry runs the session-7 training-batch tail
    # unchanged: filter -> chunk -> pack, through a snapshot commit
    path = str(tmp_path / "docs7")
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(25)), "s" + str(i % 2))
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(path)
    config = {"features": [
        {"feature_type": "filter", "feature_name": "keep",
         "predicate": "doc_id <> 11"},
        {"feature_type": "chunk", "feature_name": "ck",
         "id_column": "doc_id", "max_tokens": 10, "overlap": 2},
        {"feature_type": "pack", "feature_name": "pk", "capacity": 40,
         "tokens_column": "ck_tokens",
         "order_by": ["doc_id", "ck_idx"], "by": ["source"]},
    ]}
    cfg = tmp_path / "c7.json"
    cfg.write_text(json.dumps(config))
    out_dir = str(tmp_path / "out7")
    rc = main(["--input", path, "--output", out_dir, "--config", str(cfg)])
    assert rc == 0
    got = SnapshotTable(spark, out_dir).read()
    # 11 surviving docs x ceil((25-2)/8) = 3 chunks each
    assert got.count() == 33
    assert got.filter("doc_id = 11").count() == 0
    # pack ids start at 0 within each source shard and offsets respect
    # capacity accounting
    for src in ("s0", "s1"):
        shard = sorted(
            got.filter(F.col("source") == src).collect(),
            key=lambda r: (r["doc_id"], r["ck_idx"]),
        )
        cum = 0
        for r in shard:
            assert r["pk_id"] == cum // 40
            assert r["pk_offset"] == cum - r["pk_id"] * 40
            cum += r["ck_tokens"]


def test_curation_job_null_ds_rows_belong_to_no_unit(spark, tmp_path, capsys):
    """Rows whose ds is NULL belong to no day unit (job.py's discovery):
    they never become a unit that re-commits the whole input, a --ds-from
    bound runs, and a re-run commits nothing new."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "curated")
    rows = [
        (i, f"doc {i} words here", None if i % 3 == 0 else f"2026-01-0{1 + i % 2}")
        for i in range(9)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ds string"
    ).write.partitionBy("ds").parquet(inp)
    cfg = tmp_path / "curation.json"
    cfg.write_text(json.dumps({"features": [
        {"feature_type": "text_metric", "feature_name": "n_tok",
         "metric": "token_count"},
    ]}))
    argv = ["--input", inp, "--output", out, "--config", str(cfg)]

    assert main(argv + ["--ds-from", "2026-01-02"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["new_units"] == 1 and stats["total_rows"] == 3

    assert main(argv) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["new_units"] == 1 and stats["committed_units"] == 2
    ids = [r["doc_id"] for r in SnapshotTable(spark, out).read().collect()]
    assert len(ids) == len(set(ids)) == stats["total_rows"] == 6
    assert not {i for i in ids if i % 3 == 0}  # the NULL-ds docs

    assert main(argv) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["new_units"] == 0 and stats["total_rows"] == 6
