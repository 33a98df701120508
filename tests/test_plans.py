"""Physical-plan assertions: the scale properties the engine promises.

These pin the plan shape so regressions that silently add shuffles/sorts
or break pushdown fail CI, not a 100 TB run.
"""

import pytest
from pyspark.sql import functions as F


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def parquet_transcripts(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "tr")
    transcripts.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_flagship_single_exchange_single_sort(parquet_transcripts):
    from featuregenerator_spark.plans.pipeline import (
        FEATURE_COLUMNS,
        build_turn_features,
    )
    from featuregenerator_spark.plans.temporal import with_ts_seconds

    feat = build_turn_features(with_ts_seconds(parquet_transcripts)).select(
        *FEATURE_COLUMNS
    )
    plan = _executed(feat)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan


def test_filter_and_column_pushdown(spark, parquet_transcripts):
    df = parquet_transcripts.filter(F.col("role") == "tool").select(
        "conv_id", "turn_idx"
    )
    plan = _executed(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,tool)]" in plan, plan
    # pruned scan: text/ts must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema and "ts" not in read_schema, read_schema


def test_broadcast_join_for_small_dim(spark):
    big = spark.range(100000).select(F.col("id"), (F.col("id") % 100).alias("k"))
    small = spark.range(100).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    joined = big.join(F.broadcast(small), "k")
    assert "BroadcastHashJoin" in _executed(joined)


def test_asof_join_single_shuffle(spark, transcripts, tmp_path):
    from featuregenerator_spark.plans.temporal import asof_join, with_ts_seconds
    from featuregenerator_spark.sources.transcripts import synth_snapshots

    # parquet-backed inputs so the synth generator's own window exchange
    # doesn't appear inside the measured plan
    transcripts.write.mode("overwrite").parquet(str(tmp_path / "tr"))
    synth_snapshots(spark, transcripts).write.mode("overwrite").parquet(
        str(tmp_path / "sn")
    )
    tr = with_ts_seconds(spark.read.parquet(str(tmp_path / "tr")))
    snaps = spark.read.parquet(str(tmp_path / "sn")).withColumn(
        "snap_ts", F.col("snap_ts").cast("double")
    )
    out = asof_join(
        tr, snaps, on="conv_id", left_ts="ts_sec", right_ts="snap_ts",
        value_cols=["feature_state"],
    )
    plan = _executed(out)
    # union + one window partitioned on conv_id: ONE hash exchange and one
    # sort for the whole as-of join; no pairwise join operator at all
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    assert "SortMergeJoin" not in plan


def test_salted_agg_two_phase(spark, transcripts):
    from featuregenerator_spark.plans.partitioning import salted_agg

    out = salted_agg(
        transcripts,
        "conv_id",
        {"n": ("turn_idx", "count")},
        n_salts=8,
        salt_cols=("turn_idx",),
    )
    plan = _executed(out)
    # partial agg on (key, salt), final on key: two hash aggregates around
    # an exchange that includes the salt column
    assert "__salt" in plan
    assert plan.count("HashAggregate") >= 2


def test_partitioned_source_prunes(spark, transcripts, tmp_path):
    """Date-partitioned (Iceberg-style) layout: ds predicates must reach
    PartitionFilters, not data filters — whole days skipped at metadata
    level."""
    from featuregenerator_spark.sources.tables import (
        read_transcripts_range,
        write_partitioned_transcripts,
    )

    path = str(tmp_path / "part_tr")
    write_partitioned_transcripts(transcripts, path)
    all_ds = sorted(
        r["ds"]
        for r in spark.read.parquet(path).select("ds").distinct().collect()
    )
    assert len(all_ds) > 1
    lo = all_ds[len(all_ds) // 2]
    df = read_transcripts_range(spark, path, ds_from=lo)
    plan = _executed(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ds" in pf[0], plan
    # and it returns exactly the rows of the kept days
    want = transcripts.filter(F.date_format("ts", "yyyy-MM-dd") >= lo).count()
    assert df.count() == want


def test_simhash_neardup_banded_equijoin_and_parity(spark):
    """The simhash near-dup pairing must be a hash equijoin on the
    pigeonhole segments (never a nested-loop per-lang cross product), and
    must return exactly the pairs the brute-force pairing returns."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    banded = entry.q_simhash_neardup(spark, sf_dir)
    plan = _executed(banded)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan

    # brute-force reference pairing (same fingerprints, all same-lang pairs)
    sims = entry.q_simhash(spark, sf_dir)
    docs = entry._docs(spark, sf_dir).select("doc_id", "lang")
    s = sims.join(docs, "doc_id")
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in banded.collect()}
    want = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()}
    assert got == want


def test_simhash_single_pass_matches_hof_reference(spark):
    """The vectorized pandas_udf SimHash must be bit-exact with the
    64-aggregate HOF formulation it replaced, including empty docs."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    new = {r["doc_id"]: r["simhash"] for r in entry.q_simhash(spark, sf_dir).collect()}
    old = {
        r["doc_id"]: r["simhash"]
        for r in entry.q_simhash_hof_reference(spark, sf_dir).collect()
    }
    assert new == old and len(new) > 0

    # synthetic edge rows: empty-ish text and single token
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "x y x")], "doc_id long, text string"
    )
    from __spark_entry__ import _simhash_pack
    from pyspark.sql.functions import pandas_udf

    sim_udf = pandas_udf(_simhash_pack, "long")
    hashed = df.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda t: F.xxhash64(t)).alias("th"),
    )
    got = {r["doc_id"]: r["simhash"] for r in hashed.select(
        "doc_id", sim_udf(F.col("th")).alias("simhash")).collect()}
    # reference: per-row python recompute
    import numpy as np

    def ref(tokens):
        hs = {r["h"]: None for r in []}
        row = spark.createDataFrame([(tokens,)], "toks array<string>").select(
            F.transform("toks", lambda t: F.xxhash64(t)).alias("th")
        ).collect()[0]["th"]
        arr = np.array(row, dtype=np.int64).view(np.uint64)
        votes = [
            int(((arr >> np.uint64(i)) & np.uint64(1)).sum()) * 2 - len(arr)
            for i in range(64)
        ]
        u = sum((1 << i) for i in range(64) if votes[i] > 0)
        return u - (1 << 64) if u >= (1 << 63) else u

    for did, toks in ((1, ["a"]), (2, [""]), (3, ["x", "y", "x"])):
        assert got[did] == ref(toks), did


def test_json_compiled_flagship_plans_like_handbuilt(parquet_transcripts):
    """The declarative surface must not cost a plan regression: the
    flagship compiled from pure JSON (spec.compile_pipeline) produces
    the SAME physical shape as the hand-built pipeline — one
    hashpartitioning Exchange, one Sort feeding all window stages
    (adjacent withColumn projections collapse in Catalyst)."""
    from featuregenerator_spark.spec import compile_pipeline
    from tests.test_pipeline import FLAGSHIP_JSON

    cfg = {
        "defaults": FLAGSHIP_JSON["defaults"],
        # the window/session features only (the as-of entry joins a second
        # table, which legitimately adds its own exchange — pinned at 1
        # extra in test_asof_join_single_shuffle)
        "features": [
            f for f in FLAGSHIP_JSON["features"]
            if f["feature_type"] != "asof_join"
        ],
    }
    out = compile_pipeline(cfg, parquet_transcripts)
    plan = _executed(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan


def test_cap_hot_buckets_drops_and_audits(spark):
    """cap_hot_buckets must drop exactly the over-cap buckets before the
    pairing self-join (the k^2-output guard: AQE can redistribute a skewed
    partition but cannot shrink a quadratic join OUTPUT) and report
    (dropped_buckets, total_buckets) through a passed Observation."""
    from pyspark.sql import Observation

    from featuregenerator_spark.operators.jaccard import cap_hot_buckets

    segs = spark.createDataFrame(
        [(i, 0, 7, "en") for i in range(20)]
        + [(100, 1, 9, "en"), (101, 1, 9, "en")],
        "doc_id long, seg int, val long, lang string",
    )
    obs = Observation()
    kept = cap_hot_buckets(segs, ("seg", "val", "lang"), 10, obs)
    assert {r["doc_id"] for r in kept.collect()} == {100, 101}
    m = obs.get
    assert m["dropped_buckets"] == 1
    assert m["total_buckets"] == 2


def test_simhash_neardup_cap_is_lossless_on_corpus(spark):
    """The default hot-bucket cap must not change the simhash pair set on
    the test corpus (capped == uncapped, exact set equality), so the
    degenerate-bucket guard is pure protection, not an approximation."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    capped = {
        tuple(r) for r in entry.q_simhash_neardup(spark, sf_dir).collect()
    }
    uncapped = {
        tuple(r)
        for r in entry.q_simhash_neardup(
            spark, sf_dir, bucket_cap=1 << 40
        ).collect()
    }
    assert capped == uncapped


@pytest.mark.parametrize(
    "query", ["q_neardup_token_jaccard", "q_neardup_ngram_jaccard"]
)
def test_exact_pair_scan_plan(spark, query):
    """The exact pair scan: one repartition of the probe side by doc_id,
    one broadcast hash join keyed on lang with the lossless size-ratio
    prune (least/greatest) in its condition, never a nested-loop join."""
    import re

    import __spark_entry__ as entry

    plan = _executed(getattr(entry, query)(spark, entry.SF001))
    assert (
        len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_NUM", plan))
        == 1
    ), plan
    joins = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert len(joins) == 1, plan
    assert re.search(r"BroadcastHashJoin \[lang#\d+\], \[lang#\d+\]", joins[0]), plan
    assert "least(" in joins[0] and "greatest(" in joins[0], plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
