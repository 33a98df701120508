"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full turn-feature pipeline over the events
                 table mapped onto the transcript shape (sf0.001).
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data ops); each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query (same aliases!).

Engine code lives in featuregenerator_spark/; this file only wires the
operators onto the driver testdata tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featuregenerator_spark.operators.jaccard import BUCKET_CAP

SF001 = "/root/testdata/sf0.001"


def _ensure_conf(spark: SparkSession) -> None:
    """Settings the engine depends on (idempotent on a driver session)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    except Exception:
        pass


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # driver parquet carries TIMESTAMP_NTZ; with the session TZ pinned to
    # UTC the two-step cast yields the same epoch seconds DuckDB's epoch()
    return ev.withColumn(
        "ts_sec", F.col("ts").cast("timestamp").cast("double")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_W_USER = lambda: Window.partitionBy("user_id").orderBy("ts", "event_id")  # noqa: E731


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time turn features over sf0.001 events-as-
    transcripts (rolling counts, gaps, TimeDiffNormal, sessionization)."""
    _ensure_conf(spark)
    from featuregenerator_spark.plans.pipeline import FEATURE_COLUMNS, build_turn_features
    from featuregenerator_spark.plans.temporal import with_ts_seconds
    from featuregenerator_spark.sources.tables import events_as_transcripts

    tr = events_as_transcripts(spark, SF001)
    feat = build_turn_features(with_ts_seconds(tr))
    return feat.select(*FEATURE_COLUMNS)


# --------------------------------------------------------------------------
# queries: temporal / point-in-time core on events
# --------------------------------------------------------------------------


def q_rolling_count_1h(spark, sf_dir):
    from featuregenerator_spark.plans import temporal

    ev = _events(spark, sf_dir)
    out = temporal.with_rolling_count(
        ev, 3600.0, "prior_cnt_1h", conv="user_id", include_current=False
    )
    return out.select("event_id", "prior_cnt_1h")


def q_rolling_sum_24h(spark, sf_dir):
    from featuregenerator_spark.plans import temporal

    ev = _events(spark, sf_dir)
    out = temporal.with_rolling_agg(
        ev, 86400.0, F.col("value"), "sum", "s", conv="user_id"
    )
    return out.select("event_id", F.round("s", 4).alias("sum_value_24h"))


def q_rolling_min_exclusive(spark, sf_dir):
    """Exclusive rolling min (include_current=False): tied-timestamp
    peers are in the window (pv_ts - ts = 0), only the row itself is
    excluded. Oracle = DuckDB's RANGE frame with EXCLUDE CURRENT ROW —
    the exact frame-exclusion semantics Spark's window API lacks, which
    the two-pass tie-group form in plans/temporal.py reconstructs."""
    from featuregenerator_spark.plans import temporal

    ev = _events(spark, sf_dir)
    out = temporal.with_rolling_agg(
        ev, 3600.0, F.col("value"), "min", "m",
        conv="user_id", include_current=False,
    )
    return out.select("event_id", F.round("m", 4).alias("min_value_1h"))


def q_gap_seconds(spark, sf_dir):
    ev = _events(spark, sf_dir)
    gap = F.col("ts_sec") - F.lag("ts_sec").over(_W_USER())
    return ev.select("event_id", F.round(gap, 6).alias("gap_seconds"))


def q_gap_bucket(spark, sf_dir):
    from featuregenerator_spark.functions.bucketize import time_diff_normal_expr

    ev = _events(spark, sf_dir)
    gap = F.col("ts_sec") - F.lag("ts_sec").over(_W_USER())
    bucket = F.when(gap.isNotNull(), time_diff_normal_expr(gap, F.col("ts_sec")))
    return ev.select("event_id", bucket.cast("int").alias("gap_bucket"))


def q_sessionize_30m(spark, sf_dir):
    ev = _events(spark, sf_dir)
    gap = F.col("ts_sec") - F.lag("ts_sec").over(_W_USER())
    boundary = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    idx = F.sum(boundary).over(
        _W_USER().rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select("event_id", idx.cast("long").alias("session_idx"))


def q_rolling_count_1h_chunked(spark, sf_dir):
    """Skew-parallel rolling count (plans/skew.py): same semantics as
    rolling_count_1h but evaluated over (user_id, time_chunk) partitions
    with a 3600s halo — one hot user spreads across tasks instead of
    serializing a partition. The DuckDB oracle is the STANDARD query's
    SQL verbatim, so the gate itself proves chunked == unchunked."""
    from featuregenerator_spark.plans import temporal
    from featuregenerator_spark.plans.skew import HALO, with_time_chunks

    ev = _events(spark, sf_dir)
    ch = with_time_chunks(ev, 7200.0, 3600.0)
    out = temporal.with_rolling_count(
        ch, 3600.0, "prior_cnt_1h", conv=["user_id", "__chunk"],
        include_current=False,
    )
    return out.filter(~F.col(HALO)).select("event_id", "prior_cnt_1h")


def q_rolling_count_bucketed(spark, sf_dir):
    """The SAME rolling count evaluated over a BUCKETED layout of the
    events table (sources/bucketed.py): bucketBy(user_id) + sortBy
    persists the shuffle into storage, so the window's
    ClusteredDistribution(user_id) is satisfied by the scan itself and
    the plan holds ZERO Exchange (pinned in tests/test_bucketed.py) —
    the ingest-once / reuse-every-run layout for 100-TB nightly
    pipelines, vs. the flagship's already-minimal one Exchange. The
    DuckDB oracle is the STANDARD query's SQL verbatim, so the gate
    proves layout changes nothing about values."""
    from featuregenerator_spark.plans import temporal
    from featuregenerator_spark.sources.bucketed import sanitized, stage_bucketed_table

    # tag by full-path hash, not basename: two corpora with the same
    # basename (or two sessions on one host) must not share a staging
    # table/location (same keying rule as streaming's _stage_single_file)
    import hashlib

    tag = "{}_{}".format(
        sanitized(os.path.basename(os.path.normpath(sf_dir))),
        hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:8],
    )
    bt = stage_bucketed_table(
        spark,
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")),
        table=f"fg_bucketed_events_{tag}",
        path=f"/tmp/fg_bucketed/{tag}/events",
        buckets=8,
        key="user_id",
        sort_cols=["user_id", "ts", "event_id"],
    )
    ev = bt.withColumn("ts_sec", F.col("ts").cast("timestamp").cast("double"))
    out = temporal.with_rolling_count(
        ev, 3600.0, "prior_cnt_1h", conv="user_id", include_current=False
    )
    return out.select("event_id", "prior_cnt_1h")


def q_sessionize_30m_chunked(spark, sf_dir):
    """Skew-parallel sessionization: the prefix-dependent session index
    restored by the two-pass chunk-offset scheme (plans/skew.py), checked
    against the STANDARD sessionize oracle SQL verbatim."""
    from featuregenerator_spark.plans.skew import sessionize_chunked, with_time_chunks

    ev = _events(spark, sf_dir)
    ch = with_time_chunks(ev, 3600.0, 1800.0)
    out = sessionize_chunked(
        ch, 1800.0, conv="user_id", order_by=("ts", "event_id")
    )
    return out.select("event_id", "session_idx")


def q_asof_last_purchase(spark, sf_dir):
    from featuregenerator_spark.plans.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .withColumn("pts", F.col("ts").cast("timestamp").cast("double"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="pts",
        value_cols=["pv"],
        strict=True,
    )
    return joined.select(
        "event_id", F.round("pv", 4).alias("last_purchase_value")
    )


def q_asof_last_purchase_chunked(spark, sf_dir):
    """Skew-parallel as-of join (plans/skew.py): (key, time_chunk)
    partitions + per-key prefix carry over per-chunk summaries — exact
    for any chunk span, no horizon needed. Oracle = the STANDARD as-of
    query's DuckDB ASOF JOIN SQL verbatim, so the gate proves
    chunked == unchunked."""
    from featuregenerator_spark.plans.skew import asof_join_chunked

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .withColumn("pts", F.col("ts").cast("timestamp").cast("double"))
    )
    joined = asof_join_chunked(
        ev.select("event_id", "user_id", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="pts",
        value_cols=["pv"],
        strict=True,
        chunk_span_seconds=86400.0,
    )
    return joined.select(
        "event_id", F.round("pv", 4).alias("last_purchase_value")
    )


def q_asof_snapshot_auto(spark, sf_dir):
    """Heavy-hitter-ROUTED as-of join (plans/skew.py:asof_join_auto — the
    router the flagship snapshot join and job.py now use): keys with more
    than 80 combined rows take the chunked skew-parallel branch, the rest
    the standard branch (sf0.01 user counts are 49-86, so BOTH branches
    carry real rows). Oracle = the STANDARD as-of query's DuckDB SQL
    verbatim, so the gate proves routed == unrouted."""
    from featuregenerator_spark.plans.skew import asof_join_auto

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .withColumn("pts", F.col("ts").cast("timestamp").cast("double"))
    )
    joined = asof_join_auto(
        ev.select("event_id", "user_id", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="pts",
        value_cols=["pv"],
        strict=True,
        hot_rows_threshold=80,
        chunk_span_seconds=86400.0,
    )
    return joined.select(
        "event_id", F.round("pv", 4).alias("last_purchase_value")
    )


def q_backfill_purchase(spark, sf_dir):
    from featuregenerator_spark.plans.temporal import backfill

    ev = _events(spark, sf_dir).withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    filled = backfill(
        ev, ["pv"], conv="user_id", order_by=("ts", "event_id")
    )
    return filled.select(
        "event_id", F.round("pv", 4).alias("last_purchase_ffill")
    )


def q_backfill_purchase_chunked(spark, sf_dir):
    """Skew-parallel forward-fill (plans/skew.py): per-chunk local fill +
    per-key prefix carry; oracle = the STANDARD backfill query's SQL
    verbatim (gate-proven equality)."""
    from featuregenerator_spark.plans.skew import backfill_chunked

    ev = _events(spark, sf_dir).withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    filled = backfill_chunked(
        ev, ["pv"], conv="user_id", order_by=("ts", "event_id"),
        chunk_span_seconds=86400.0,
    )
    return filled.select(
        "event_id", F.round("pv", 4).alias("last_purchase_ffill")
    )


def q_backfill_purchase_auto(spark, sf_dir):
    """Heavy-hitter-routed forward-fill (plans/skew.py:backfill_auto):
    users above 70 events take the chunked branch, the rest the standard
    branch (both populated at sf0.01). Oracle = the STANDARD backfill
    query's SQL verbatim."""
    from featuregenerator_spark.plans.skew import backfill_auto

    ev = _events(spark, sf_dir).withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    filled = backfill_auto(
        ev, ["pv"], conv="user_id", order_by=("ts", "event_id"),
        hot_rows_threshold=70, chunk_span_seconds=86400.0,
    )
    return filled.select(
        "event_id", F.round("pv", 4).alias("last_purchase_ffill")
    )


def q_lag_lead_value(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.lag("value").over(_W_USER()).alias("prev_value"),
        F.lead("value").over(_W_USER()).alias("next_value"),
    )


def q_same_type_kernel_parity(spark, sf_dir):
    """The array-form timediff kernel itself (history arrays per event),
    oracle-checked against the equivalent SQL range window: #prior events
    of the same type within 1h."""
    from featuregenerator_spark.operators.lookup_array import lookup_count
    from featuregenerator_spark.plans.temporal import history_arrays

    # explicit partition count: AQE's byte-based post-shuffle coalescing
    # sees a few MB and folds the stage to ~3 partitions, but the kernel
    # evaluation below is CPU-bound interpreted higher-order functions —
    # keep it spread across the cores (4.4x on this query at 32 cores).
    par = spark.sparkContext.defaultParallelism * 2
    ev = _events(spark, sf_dir).repartition(par, "user_id")
    # bounded history: kernels only read events inside the 1h/1d timediff
    # window; measured max is 11 events per user-day at sf0.01/sf0.1, so
    # keeping the last 256 prior rows is lossless while capping window
    # state at O(256) instead of O(conversation) (the unbounded variant
    # stays in tests as the parity demonstration).
    hist = history_arrays(
        ev, "event_type", "value", conv="user_id", order_by=("ts", "event_id"),
        max_history=256,
    )
    cnt = lookup_count(
        F.col("hist_keys"),
        F.col("hist_values"),
        F.col("hist_ts"),
        F.col("ts_sec"),
        F.array(F.col("event_type")),
        3600.0,
    )
    return hist.select(
        "event_id", F.try_element_at(cnt, F.lit(1)).alias("same_type_cnt_1h")
    )


def q_user_stats_salted(spark, sf_dir):
    """Skew-safe two-phase aggregation == plain GROUP BY (oracle)."""
    from featuregenerator_spark.plans.partitioning import salted_agg

    ev = _events(spark, sf_dir)
    out = salted_agg(
        ev,
        "user_id",
        {"n_events": ("event_id", "count"), "total_value": ("value", "sum")},
        n_salts=8,
        salt_cols=("event_id",),
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


# --------------------------------------------------------------------------
# scalar kernels on the star schema
# --------------------------------------------------------------------------


def q_id_feature(spark, sf_dir):
    from featuregenerator_spark.operators.id_feature import id_feature_scalar
    from pyspark.sql import types as T

    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        id_feature_scalar(F.col("event_type"), "etype", T.StringType()).alias(
            "etype_key"
        ),
    )


def q_combo_feature(spark, sf_dir):
    from featuregenerator_spark.operators.combo_feature import combo_feature_scalar

    li = _read(spark, sf_dir, "lineitem")
    key = combo_feature_scalar(
        [F.col("l_returnflag"), F.col("l_linestatus")], "combo"
    )
    return (
        li.select(key.alias("combo_key"))
        .groupBy("combo_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_raw_bucketize(spark, sf_dir):
    from featuregenerator_spark.operators.raw_feature import raw_feature_scalar

    orders = _read(spark, sf_dir, "orders")
    bucket = raw_feature_scalar(
        F.col("o_totalprice"), None, [1000.0, 10000.0, 100000.0, 300000.0]
    )
    return (
        orders.select(bucket.alias("price_bucket"))
        .groupBy("price_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_raw_zscore(spark, sf_dir):
    from featuregenerator_spark.functions.normalizers import parse_normalizer
    from featuregenerator_spark.operators.raw_feature import raw_feature_scalar

    li = _read(spark, sf_dir, "lineitem")
    n = parse_normalizer("method=zscore,mean=30000.0,standard_deviation=15000.0")
    z = raw_feature_scalar(F.col("l_extendedprice"), n)
    return li.select(
        "l_orderkey", "l_linenumber", F.round(z, 6).alias("z")
    )


def q_lookup_broadcast_dim(spark, sf_dir):
    """row()==1 broadcast semantics at pipeline level: broadcast dim join."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
    )
    return joined.groupBy(
        F.concat(F.lit("seg_"), F.col("c_mktsegment")).alias("seg_key")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_match_hit_profile(spark, sf_dir):
    """match_feature hit: profile built from columns, parsed, probed; the
    oracle recomputes the expected value directly."""
    from featuregenerator_spark.operators.match_feature import (
        match_hit_dense,
        parse_user_info,
    )

    cust = _read(spark, sf_dir, "customer")
    profile = F.concat(
        F.lit("seg^"),
        F.col("c_mktsegment"),
        F.lit(":"),
        F.round(F.col("c_acctbal"), 2).cast("string"),
    )
    m = parse_user_info(profile)
    hit = match_hit_dense(m, F.lit("seg"), F.col("c_mktsegment"))
    return cust.select("c_custkey", F.round(hit, 2).alias("hit_value"))


def q_overlap_common(spark, sf_dir):
    from featuregenerator_spark.operators.overlap_feature import overlap_feature

    docs = _docs(spark, sf_dir)
    qtok = F.array(F.lit("spark"), F.lit("join"), F.lit("scan"), F.lit("window"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        overlap_feature(qtok, toks, "common_word").cast("int").alias("common_words"),
    )


def q_overlap_ratio(spark, sf_dir):
    from featuregenerator_spark.operators.overlap_feature import overlap_feature

    docs = _docs(spark, sf_dir)
    qtok = F.array(F.lit("spark"), F.lit("join"), F.lit("scan"), F.lit("window"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        overlap_feature(qtok, toks, "query_common_ratio").alias("qcr"),
        overlap_feature(qtok, toks, "title_common_ratio").alias("tcr"),
    )


def q_top_words_per_doc(spark, sf_dir):
    from featuregenerator_spark.operators.preclick_urb import top_words

    docs = _docs(spark, sf_dir)
    tw = top_words(
        F.array(F.col("text")), "w", need_prefix=False, delim_item=" "
    )
    # array outputs ride as JSON strings: the driver canonicalizer sorts
    # cells with pandas, which cannot hash list cells (same on both sides,
    # so the value comparison is unchanged).
    return docs.select("doc_id", F.to_json(F.slice(tw, 1, 5)).alias("top_words"))


def q_lookup_kv_feature(spark, sf_dir):
    """lookup_feature V1 ("k:v" string map) built from part columns; the
    oracle recomputes the emitted key directly."""
    from featuregenerator_spark.operators.lookup_feature import lookup_v1_discrete

    part = _read(spark, sf_dir, "part")
    kv = F.array(
        F.concat(F.lit("size:"), F.col("p_size").cast("string")),
        F.concat(F.lit("brand:"), F.col("p_brand")),
    )
    out = lookup_v1_discrete(
        kv, F.array(F.lit("size")), "lk", need_prefix=True
    )
    return part.select(
        "p_partkey", F.try_element_at(out, F.lit(1)).alias("size_key")
    )


def q_lookup_gap_kernel(spark, sf_dir):
    """gap_min kernel (TimeDiffNormal of time since most recent prior
    same-type event, window 1d, default 0) — run through the actual
    history-array kernel; oracle = closed-form SQL window."""
    from featuregenerator_spark.operators.lookup_array import lookup_gap
    from featuregenerator_spark.plans.temporal import history_arrays

    # explicit partitioning: keep the interpreted kernel spread across
    # cores (AQE byte-based coalesce would serialize it — see
    # lookup_array_kernel_parity)
    par = spark.sparkContext.defaultParallelism * 2
    ev = _events(spark, sf_dir).repartition(par, "user_id")
    hist = history_arrays(
        ev, "event_type", "value", conv="user_id", order_by=("ts", "event_id"),
        max_history=256,  # lossless: max 11 same-user events per 1d window
    )
    g = lookup_gap(
        F.col("hist_keys"),
        F.col("hist_values"),
        F.col("hist_ts"),
        F.col("ts_sec"),
        F.array(F.col("event_type")),
        86400.0,
        gap="gap_min",
        default_value=0.0,
    )
    return hist.select(
        "event_id", F.try_element_at(g, F.lit(1)).alias("since_same_type")
    )


def q_kgb_hit_flag(spark, sf_dir):
    """kgb packed-term bit matching: query term (cls 1)<<56|p_size, item
    term (cls 1)<<32|(p_size%50) -> hit iff p_size < 50 (closed form)."""
    from featuregenerator_spark.operators.kgb_match import kgb_match_terms

    part = _read(spark, sf_dir, "part")
    q = F.array((F.lit(1 << 56) + F.col("p_size").cast("long")))
    items = F.array(
        (F.lit(1 << 32) + F.pmod(F.col("p_size"), F.lit(50)).cast("long"))
    )
    hits = kgb_match_terms(q, items, "kgb", match=True, need_prefix=False)
    return part.select(
        "p_partkey", F.size(hits).cast("int").alias("kgb_hits")
    )


# --------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def q_neardup_token_jaccard(spark, sf_dir):
    """Exact token-set Jaccard on same-lang candidate pairs (the oracle-
    checkable baseline; the LSH variant below scales it). Jaccard runs on
    xxhash64(token) arrays — identical to string-token Jaccard absent a
    vocabulary collision (~V^2/2^64), and this query IS oracle-checked
    against DuckDB's string-token Jaccard, so the gate proves it."""
    from featuregenerator_spark.operators.jaccard import (
        hashed_token_cols,
        jaccard_pairs,
    )

    docs = hashed_token_cols(_docs(spark, sf_dir))
    # the docs file is one small parquet split: without an explicit
    # repartition the broadcast join probes ALL O(n^2/lang) pairs in ONE
    # task. Spreading the probe side is what makes the pair scan scale
    # (57s -> ~4s at 32 cores on sf0.1).
    par = spark.sparkContext.defaultParallelism
    return jaccard_pairs(docs.repartition(par, "doc_id"), docs, ordered=True)


def q_neardup_ngram_jaccard(spark, sf_dir):
    """Exact character-3-gram (shingle) Jaccard on same-lang candidate
    pairs — the n-gram flavor of the dedup family (tokenization-free, so
    it catches near-dups that reword token boundaries: spacing,
    punctuation, agglutinative langs). Same oracle-baseline role and
    same pair scan as the token variant, over xxhash64(shingle) arrays
    instead of token hashes; MinHash banding over the same shingle sets
    is the 100-TB path (the band table is shingle-agnostic)."""
    from featuregenerator_spark.operators.jaccard import jaccard_pairs

    shingles = F.expr(
        "array_distinct(transform(sequence(1, greatest(length(text)-2, 1)),"
        " i -> substring(text, i, 3)))"
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.transform(shingles, lambda s: F.xxhash64(s)).alias("th"),
    ).withColumn("n", F.size("th"))
    par = spark.sparkContext.defaultParallelism
    return jaccard_pairs(docs.repartition(par, "doc_id"), docs, ordered=True)


def q_substring_dup_coverage(spark, sf_dir):
    """Exact substring-duplicate coverage (Lee et al. 2022 ExactSubstr,
    relational form): every 8-token window hashed once, duplicated
    windows found with one map-side-combined groupBy, per-doc coverage
    via an interval-union window sweep over ONLY the duplicated
    windows. Spark groups xxhash64(window) longs; the DuckDB oracle
    groups the window strings — the gate proves the hash grouping
    equals string grouping on this corpus (same collision argument as
    the Jaccard-on-hashes queries). k=8 because the synthetic docs are
    ~50 tokens; the paper's web-scale k is 50."""
    from featuregenerator_spark.operators.substring_dedup import (
        substring_dup_coverage,
    )

    # single-file test input scans as ONE partition; spread the explode
    # stage (cluster scans arrive pre-partitioned and skip this cost)
    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return substring_dup_coverage(docs, k=8)


def q_substring_dup_trim(spark, sf_dir):
    """The remediation half of ExactSubstr dedup: cut duplicated spans,
    keeping each duplicated window's corpus-wide canonical (first by
    (doc_id, start)) occurrence. Canonical selection is min(struct)
    inside the same map-side-combinable groupBy(hash) that counts
    occurrences — no row_number over a possibly-hot hash partition —
    and the text rebuild is an indexed-lambda array filter against the
    doc's merged cut intervals (pure codegen, no Python). The DuckDB
    oracle makes the same canonical choice via row_number and rebuilds
    with DuckDB's 1-based indexed list lambdas."""
    from featuregenerator_spark.operators.substring_dedup import trim_dup_spans

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return trim_dup_spans(docs, k=8)


def q_quality_model_score(spark, sf_dir):
    """Model-based quality filter (CCNet/fastText-classifier shape): a
    linear bag-of-words model with mean pooling, executed as ONE literal
    -map aggregate HOF — no shuffle, whole-stage codegen. Weights are
    the deterministic DEMO_WEIGHTS fixture (production loads a trained
    checkpoint as a table); the DuckDB oracle computes the same model
    relationally (unnest + VALUES join + group-sum) from the SAME dict,
    so the gate also proves the map-literal and relational forms equal
    — the large-vocab broadcast-join twin is pinned equal in tests."""
    from featuregenerator_spark.operators.quality_model import (
        DEMO_BIAS,
        DEMO_WEIGHTS,
        linear_score_columns,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cols = linear_score_columns(F.col("text"), DEMO_WEIGHTS, DEMO_BIAS)
    prob = cols["quality_prob"]
    return docs.select(
        "doc_id",
        F.round(cols["quality_score"], 6).alias("quality_score"),
        F.round(prob, 6).alias("quality_prob"),
        (prob >= 0.5).cast("int").alias("keep"),
    )


def q_quality_lm_perplexity(spark, sf_dir):
    """LM-perplexity quality filter (the CCNet stage itself, next to its
    classifier twin above): a bigram add-one LM trained RELATIONALLY on
    the deterministic doc_id-even half of the corpus, scoring every doc
    by mean bigram NLL, with the CCNet head/middle/tail tertile assigned
    by percent_rank over the ROUNDED score (rounding first makes ties
    exact, so both engines rank identically). Count tables are
    vocab-sized with map-side combine; join keys are xxhash64 longs
    (the oracle groups the strings — the usual collision-argument gate).
    The 3.42 keep bound sits mid-distribution so both branches fire."""
    from featuregenerator_spark.operators.lm_perplexity import perplexity_filter

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return perplexity_filter(docs)


def q_paragraph_dedup(spark, sf_dir):
    """Exact paragraph dedup (MassiveText's middle granularity, between
    whole-document and k-token-substring): remove every paragraph whose
    exact text occurred earlier in the corpus under (doc_id, idx) order,
    keeping the corpus-wide first occurrence. The synthetic docs are
    single-line, so the query derives deterministic paragraphs (newline
    every 8th word, same regex both engines) and appends a shared
    boilerplate paragraph to every 5th doc so the cross-document strike
    fires on a hot key; the corpus's planted dup/near-dup docs make
    whole runs of shared paragraphs. Canonical selection is a
    min(struct) AGGREGATE (map-side combinable — no per-key sorted
    window even for million-fold boilerplate); the oracle uses the
    row_number form over paragraph STRINGS, so the gate also proves
    agg-canonical == window-canonical and hash == string grouping."""
    from featuregenerator_spark.operators.paragraph_dedup import dedup_paragraphs

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nsubscribe to our newsletter for updates"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    ).repartition(par, "doc_id")
    return dedup_paragraphs(docs)


def q_source_mix_sample(spark, sf_dir):
    """Deterministic source-mix resampling (the Pile/Gopher/DoReMi
    mixture stage): per-source rates produce floor(r) guaranteed copies
    plus one more iff an md5-hex draw beats a precomputed threshold —
    no RNG, so retries/re-runs/other clusters keep EXACTLY the same
    documents. DEMO_RATES exercises upsample-with-fraction (2.5),
    pass-through (1.0), downsample (0.25), full drop (0.0), and the
    0.6 default. Map-only narrow plan, zero shuffles; the oracle
    derives its thresholds from the SAME dict via rates_values_sql."""
    from featuregenerator_spark.operators.sampling import source_mix_sample

    return source_mix_sample(_docs(spark, sf_dir))


def q_config_compiled_mix(spark, sf_dir):
    """The declarative contract over the session-6 curation stages: one
    JSON document declares LM-perplexity scoring (train split itself a
    declarative predicate), paragraph dedup, a fluency row filter, and
    the deterministic source-mix resample — compile_pipeline applies
    them in declaration order (dedup sees the full corpus because it is
    declared BEFORE the filter; the mixture amplifies only surviving
    rows). Oracle = the two operators' oracle logic composed as CTEs
    plus the mix explode, derived from the SAME rates dict."""
    from featuregenerator_spark.operators.sampling import (
        DEMO_DEFAULT_RATE,
        DEMO_RATES,
    )
    from featuregenerator_spark.spec import compile_pipeline

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).repartition(par, "doc_id")
    config = {
        "features": [
            {"feature_type": "lm_perplexity", "feature_name": "ppl",
             "id_column": "doc_id"},
            {"feature_type": "paragraph_dedup", "feature_name": "text_nodup",
             "id_column": "doc_id"},
            {"feature_type": "filter", "feature_name": "keep_fluent",
             "predicate": "ppl_keep = 1"},
            {"feature_type": "source_mix", "feature_name": "copy_idx",
             "id_column": "doc_id", "source_column": "source",
             "rates": DEMO_RATES, "default_rate": DEMO_DEFAULT_RATE},
        ]
    }
    out = compile_pipeline(config, docs)
    return out.select(
        "doc_id", "source", "ppl", "ppl_bucket", "ppl_keep", "text_nodup",
        F.col("text_nodup_dup_frac").alias("nodup_frac"), "copy_idx",
    )


def q_config_compiled_dedup(spark, sf_dir):
    """The declarative contract over the substring-dedup stage: one JSON
    config declares the coverage report, the canonical-keeping trim, and
    a row filter dropping documents that are mostly duplicated text —
    compile_pipeline applies them in declaration order. The 0.99
    threshold fires both branches at sf0.01 (the planted near-dup docs
    reach frac 1.0, the rest sit near 0). Oracle = the two operators'
    oracle texts composed as CTEs over shared window CTEs, same WHERE."""
    from featuregenerator_spark.spec import compile_pipeline

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    config = {
        "features": [
            {"feature_type": "substring_dup", "feature_name": "subdup",
             "k": 8, "id_column": "doc_id"},
            {"feature_type": "substring_trim", "feature_name": "text_clean",
             "k": 8, "id_column": "doc_id"},
            {"feature_type": "filter", "feature_name": "mostly_unique",
             "predicate": "subdup_frac < 0.99"},
        ]
    }
    out = compile_pipeline(config, docs)
    return out.select(
        "doc_id",
        "subdup_windows",
        "subdup_frac",
        "text_clean",
        "text_clean_removed",
    )


def q_dedup_connected_components(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: exact-Jaccard edges ->
    iterative min-label propagation -> (doc, component). Oracle = DuckDB
    recursive CTE computing min reachable id over the same edge set
    (near-dup is not transitive; dedup must act on the transitive
    closure)."""
    from featuregenerator_spark.operators.dedup_cluster import connected_components

    edges = q_neardup_token_jaccard(spark, sf_dir)
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def q_dedup_keep_best(spark, sf_dir):
    """Document-level dedup REMEDIATION with a quality-aware keep
    policy: per near-dup cluster (transitive closure over exact-Jaccard
    edges), keep the best representative — longest document, ties to
    the smallest id — instead of the naive first-seen. Real pipelines
    keep the richest copy, not an arbitrary one. Winner selection is a
    map-side-combinable max_by aggregate (no per-component sorted
    window); singletons (docs in no cluster) survive by definition.
    Oracle composes the gate-proven CC recursive CTE with a
    row_number winner — proving agg-winner == window-winner too."""
    from featuregenerator_spark.operators.dedup_cluster import connected_components

    edges = q_neardup_token_jaccard(spark, sf_dir)
    comp = connected_components(edges, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    j = _docs(spark, sf_dir).select("doc_id", "n_chars").join(
        comp, "doc_id", "left"
    )
    winners = (
        j.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd")),
            ).alias("keep_id")
        )
    )
    return j.join(winners, "component", "left").select(
        "doc_id",
        "component",
        F.coalesce(F.col("doc_id") == F.col("keep_id"), F.lit(True))
        .cast("int")
        .alias("kept"),
    )


def q_dedup_cc_lsh(spark, sf_dir):
    """Scale-path dedup clustering: MinHash-LSH candidate pairs (already
    re-verified with exact Jaccard >= 0.8 in-query), restricted to
    same-lang like the exact edge definition, fed into pointer-jumping
    connected components. This removes the O(n^2) exact pair scan from
    the dedup pipeline's scale path — q_neardup_token_jaccard remains
    only as the oracle baseline.

    Hash-dependent edge source -> rows-only driver check; cluster-level
    parity vs the exact-edge CC is pinned in tests/test_invariants.py
    (zero label mismatches on common nodes, node coverage >= 99% at
    sf0.01 — the small shortfall is banding recall on pairs whose
    Jaccard sits exactly at the 0.8 threshold)."""
    from featuregenerator_spark.operators.dedup_cluster import connected_components
    from featuregenerator_spark.operators.jaccard import (
        hashed_token_cols,
        minhash_pairs,
    )

    par = spark.sparkContext.defaultParallelism
    edges = minhash_pairs(
        hashed_token_cols(_docs(spark, sf_dir)), par, same_lang=True
    ).select("doc_a", "doc_b")
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def q_dedup_cc_incremental(spark, sf_dir):
    """Incremental clustering: the 10% batch's near-dup edges merge into
    the corpus's existing components via the contracted-graph CC
    (connected_components_incremental) — per-batch work scales with the
    batch, not the corpus. Provably identical to from-scratch CC over
    the union edge set, so the oracle SQL is q_dedup_connected_components'
    text VERBATIM (the gate proves incremental == full)."""
    from featuregenerator_spark.operators.dedup_cluster import (
        connected_components_incremental,
    )

    edges = q_neardup_token_jaccard(spark, sf_dir)
    touches_batch = (F.col("doc_a") % 10 == 0) | (F.col("doc_b") % 10 == 0)
    comp = connected_components_incremental(
        edges.filter(~touches_batch), edges.filter(touches_batch)
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def q_dedup_cc_incremental_lsh(spark, sf_dir):
    """The FULLY-SCALED incremental clustering composition: every leg is
    the LSH/scale form, no O(n^2) pair scan anywhere.

      old edges   = corpus-internal LSH edges (stand-in for the STORED
                    label table of the previous run — at production the
                    first CC inside connected_components_incremental is
                    replaced by reading those labels);
      batch edges = batch-vs-corpus band equijoin
                    (_incremental_matches(via_lsh=True): |batch| x
                    |corpus|-linear, never corpus x corpus) UNION the
                    batch's internal LSH edges (the daily batch's own
                    full-dedup pass — |batch|^2-bounded, tiny).

    The three legs partition the full LSH edge set exactly, and the
    contracted-graph merge is provably equal to from-scratch CC on the
    union, so the output is IDENTICAL to q_dedup_cc_lsh — pinned in
    tests/test_incremental.py along with the >= 99%-coverage /
    zero-mismatch parity vs the exact-edge incremental CC.
    Hash-dependent edge source -> rows-only driver check (same status as
    every LSH-edge query)."""
    from featuregenerator_spark.operators.dedup_cluster import (
        connected_components_incremental,
    )
    from featuregenerator_spark.operators.jaccard import (
        hashed_token_cols,
        minhash_pairs,
    )

    par = spark.sparkContext.defaultParallelism
    lsh_edges = minhash_pairs(
        hashed_token_cols(_docs(spark, sf_dir)), par, same_lang=True
    ).select("doc_a", "doc_b")
    in_batch_a = F.col("doc_a") % 10 == 0
    in_batch_b = F.col("doc_b") % 10 == 0
    old_edges = lsh_edges.filter(~in_batch_a & ~in_batch_b)
    batch_internal = lsh_edges.filter(in_batch_a & in_batch_b)
    batch_vs_corpus = _incremental_matches(spark, sf_dir, via_lsh=True).select(
        F.col("doc_id").alias("doc_a"), F.col("match_id").alias("doc_b")
    )
    comp = connected_components_incremental(
        old_edges, batch_internal.unionByName(batch_vs_corpus)
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def q_minhash_lsh_candidates(
    spark, sf_dir, bucket_cap: int = BUCKET_CAP, observation=None
):
    """MinHash+LSH near-dup candidates — Spark-native hashing, verified by
    re-checking exact Jaccard on the candidates (no SQL oracle: hash
    functions are engine-specific; driver records rows-only).

    bucket_cap guards the quadratic candidate expansion against degenerate
    band buckets (boilerplate/empty shingles hashing identically): buckets
    with more than bucket_cap members are dropped before pairing, bounding
    per-bucket work at cap^2 (lossless at the default on the test
    corpora). Capped runs are AUDITABLE: pass a pyspark Observation and
    the bucket-size aggregation reports (dropped_buckets, total_buckets)
    with the job — production dedup wires this in (pinned in
    tests/test_invariants.py); the default path omits the CollectMetrics
    node (see operators/jaccard.py::cap_hot_buckets)."""
    from featuregenerator_spark.operators.jaccard import (
        hashed_token_cols,
        minhash_pairs,
    )

    par = spark.sparkContext.defaultParallelism
    return minhash_pairs(
        hashed_token_cols(_docs(spark, sf_dir)),
        par,
        bucket_cap=bucket_cap,
        observation=observation,
    )


def _incremental_matches(spark, sf_dir, via_lsh: bool):
    """All (new-batch doc, old-corpus doc, jaccard >= 0.8) near-dup
    matches for the incremental-ingest shape: the batch is
    ``doc_id % 10 == 0`` (a deterministic 10% "today's ingest"), the
    corpus is everything else. The asymmetric join is what matters at
    100 TB: a daily batch never re-pairs corpus x corpus — candidate
    work is |batch| x |corpus|/selectivity instead of |corpus|^2, and
    only the (band, bucket)-keyed narrow tables shuffle.

    via_lsh=False: the exact same-lang pair scan with the lossless
    size-ratio prune (the DuckDB-checkable form).
    via_lsh=True: MinHash band equijoin between the batch's and the
    corpus's band tables (same 16-hash/4-band scheme and hot-bucket cap
    as q_minhash_lsh_candidates; bucket sizes count ALL docs, since a
    boilerplate bucket is hot on both sides), then the same-lang exact-
    Jaccard verify — precision 1 by construction, banding recall pinned
    in tests/test_incremental.py."""
    from featuregenerator_spark.operators.jaccard import (
        band_pairs,
        cap_hot_buckets,
        hashed_token_cols,
        jaccard_pairs,
        minhash_band_table,
        verify_candidates,
    )

    hashed = hashed_token_cols(_docs(spark, sf_dir))
    is_new = F.col("doc_id") % 10 == 0
    par = spark.sparkContext.defaultParallelism
    names = ("doc_id", "match_id")
    if not via_lsh:
        return jaccard_pairs(
            hashed.filter(is_new),
            hashed.filter(~is_new).repartition(par, "doc_id"),
            names,
        )
    banded = cap_hot_buckets(minhash_band_table(hashed), ("band", "bucket"))
    cand = band_pairs(
        banded.filter(is_new),
        banded.filter(~is_new).repartition(par, "doc_id"),
        names,
    )
    return verify_candidates(cand, hashed, names, same_lang=True)


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup decision, exact form (DuckDB-oracle-checked):
    for each new-batch doc that near-duplicates (token Jaccard >= 0.8,
    same lang) some existing-corpus doc, emit its best corpus match.
    Within-batch duplicates are the batch's own full-dedup pass
    (q_neardup_token_jaccard / q_dedup_cc_lsh); this query is the
    batch-vs-corpus half that makes daily ingest linear in batch size."""
    from featuregenerator_spark.operators.jaccard import best_match

    return best_match(_incremental_matches(spark, sf_dir, via_lsh=False))


def q_dedup_incremental_lsh(spark, sf_dir):
    """Scale path of q_dedup_incremental: MinHash band equijoin between
    the batch's and the corpus's narrow band tables replaces the
    O(|batch| x |corpus|/lang) exact pair scan; candidates are exact-
    Jaccard-verified in-query (precision 1). Hash-dependent -> rows-only
    driver check; precision/recall vs the exact form pinned in
    tests/test_incremental.py."""
    from featuregenerator_spark.operators.jaccard import best_match

    return best_match(_incremental_matches(spark, sf_dir, via_lsh=True))


def _simhash_pack(hs):
    """Arrow-batched bit fold: token-hash arrays -> packed 64-bit SimHash.

    One numpy pass per batch: flatten every doc's int64 hashes, expand to
    an (n_tokens x 64) bit matrix, segment-sum per doc with
    np.add.reduceat, threshold (#ones*2 - n > 0), pack bits. Bit-exact
    with the 64-aggregate higher-order-function formulation it replaced
    (parity pinned in tests/test_plans.py) at ~1/64th the scan count."""
    import numpy as np
    import pandas as pd

    lengths = np.array([len(x) if x is not None else 0 for x in hs], dtype=np.int64)
    sums = np.zeros((len(lengths), 64), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    if lengths.sum():
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in hs if x is not None and len(x)]
        ).view(np.uint64)
        bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        nz = np.nonzero(lengths)[0]
        starts = np.concatenate(([0], np.cumsum(lengths[nz])[:-1]))
        sums[nz] = np.add.reduceat(bits, starts, axis=0)
    votes = 2 * sums - lengths[:, None]  # (+1 per set bit, -1 per clear)
    packed = ((votes > 0).astype(np.uint64) << shifts).sum(
        axis=1, dtype=np.uint64
    ).view(np.int64)
    out = pd.Series(packed)
    none_mask = np.array([x is None for x in hs], dtype=bool)
    if none_mask.any():  # null token array (null text) -> null fingerprint
        out = out.astype("object")
        out[none_mask] = None
    return out


def q_simhash(spark, sf_dir):
    """64-bit SimHash fingerprint per document (rows-only check).

    Tokens hash ONCE in the JVM (xxhash64 inside whole-stage codegen);
    the 64-way bit vote folds in a single vectorized pandas_udf over the
    hash arrays — one scan of the token array instead of the 64
    interpreted F.aggregate scans of the previous formulation."""
    from pyspark.sql.functions import pandas_udf

    sim_udf = pandas_udf(_simhash_pack, "long")
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    hashed = docs.select(
        "doc_id", F.transform("toks", lambda t: F.xxhash64(t)).alias("th")
    )
    return hashed.select("doc_id", sim_udf(F.col("th")).alias("simhash"))


def q_simhash_hof_reference(spark, sf_dir):
    """The round-2 64-aggregate HOF SimHash, kept ONLY as the parity
    reference for tests (not registered with the driver)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    bits = []
    for i in range(64):
        bit_sum = F.aggregate(
            F.col("toks"),
            F.lit(0),
            lambda acc, t: acc
            + F.when(
                F.shiftrightunsigned(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        bits.append(
            F.when(bit_sum > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63)))
            .otherwise(F.lit(0).cast("long"))
        )
    sim = bits[0]
    for b in bits[1:]:
        sim = sim + b
    return docs.select("doc_id", sim.alias("simhash"))


def q_simhash_neardup(
    spark, sf_dir, bucket_cap: int = BUCKET_CAP, observation=None
):
    """SimHash near-dup pairs: same-lang docs whose 64-bit fingerprints
    differ in <= 6 bits, paired by the pigeonhole-banded equijoin of
    operators/image_phash.py::hamming_pairs (segment, value, lang) and
    verified with exact bit_count (xxhash-based -> rows-only check; exact
    parity with the brute-force pairing is pinned in tests/test_plans.py).
    Buckets larger than bucket_cap are dropped before pairing (lossless
    on the test corpora — capped==uncapped pinned in
    tests/test_plans.py); pass an Observation to audit drops."""
    from featuregenerator_spark.operators.image_phash import hamming_pairs

    sims = q_simhash(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    return hamming_pairs(
        sims,
        "doc_id",
        "simhash",
        ("doc_a", "doc_b"),
        keys=("lang",),
        bucket_cap=bucket_cap,
        observation=observation,
    )


def q_image_phash_neardup(
    spark, sf_dir, bucket_cap: int = BUCKET_CAP, observation=None
):
    """Cross-modality near-dup: perceptual average-hash (aHash) over
    DECODED image payloads, paired with the same 7-segment pigeonhole
    equijoin the text SimHash path uses (Hamming <= 6 guarantees one
    equal segment) and exact bit_count verification on bucket-local
    pairs only. The synth plants near-duplicate groups (shared base
    pattern + per-id brightness/pixel jitter — measured within-group
    Hamming <= 3, cross-group >= 6); decode is not SQL-expressible ->
    rows-only, with banded==brute parity and planted recall 1.0 /
    precision >= 0.99 pinned in tests/test_image_phash.py. Buckets
    larger than bucket_cap (blank/boilerplate images: one fingerprint,
    k^2 pairs) are dropped before pairing — lossless on the test corpus
    (capped==uncapped pinned); pass an Observation to audit drops."""
    from featuregenerator_spark.operators.image_phash import (
        ahash_images,
        hamming_pairs,
        synth_neardup_bmp_assets,
    )

    # a single-file scan is ONE partition — repartition before the
    # synth/decode mapInPandas so hashing spreads across cores (same
    # probe-side pattern as the pairwise-join queries)
    par = spark.sparkContext.defaultParallelism
    docs = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .repartition(par)
    )
    return hamming_pairs(
        ahash_images(synth_neardup_bmp_assets(docs)),
        "asset_id",
        "phash",
        ("asset_a", "asset_b"),
        bucket_cap=bucket_cap,
        observation=observation,
    )


def q_ann_cosine_top10(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding (ANN baseline)."""
    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    joined = emb.crossJoin(F.broadcast(qv))
    dot = F.zip_with(
        "embedding", "qe", lambda a, b: a.cast("double") * b.cast("double")
    )
    dsum = F.aggregate(dot, F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    cos = dsum / (norm(F.col("embedding")) * norm(F.col("qe")))
    return (
        joined.select("vec_id", cos.alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("c", 3).alias("cos_sim"))
    )


def q_ann_lsh_top10(spark, sf_dir, n: int | None = None, dim: int | None = None):
    """Scale-path ANN: signed-random-projection LSH (deterministic
    hyperplanes), bucket count sized to the table (~64 vectors/bucket),
    multiprobe = query bucket + all Hamming-1 neighbors, exact cosine only
    within probed buckets. Approximate by design -> rows-only check;
    recall >= 0.5 vs the brute-force top-10 is pinned in
    tests/test_invariants.py. At 100 TB the bucket equijoin replaces the
    full cross join and candidates stay ~(bits+1)*64 per query."""
    import math

    emb = _read(spark, sf_dir, "embeddings")
    if n is None or dim is None:
        # fallback: one stats action sizes the hash (count + dim
        # together). Production passes n/dim from table statistics or
        # pipeline config and runs zero driver-side actions here.
        stats = emb.agg(
            F.count(F.lit(1)).alias("n"), F.first(F.size("embedding")).alias("d")
        ).first()
        n = n if n is not None else stats["n"]
        dim = dim if dim is not None else stats["d"]
    n_bits = max(2, int(math.log2(max(n, 128) / 64.0)))

    def hp_sign(i, j):
        # deterministic +-1 hyperplane entries (no RNG: stable across runs)
        return 1.0 if ((i * 1315423911 + j * 2654435761) >> 7) & 1 else -1.0

    def bucket_of(col):
        acc = F.lit(0)
        for i in range(n_bits):
            h = F.array(*[F.lit(hp_sign(i, j)) for j in range(dim)])
            proj = F.aggregate(
                F.zip_with(col, h, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            acc = acc + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return acc

    emb_b = emb.withColumn("bucket", bucket_of(F.col("embedding")))
    q = emb_b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    # multiprobe: Hamming-1 always; Hamming-2 once the bucket count is
    # large enough that 1-bit probing alone covers too little of the space
    # (keeps candidates ~O((bits^2/2) * bucket_size), still a tiny
    # fraction of N at scale)
    flips = [F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    if n_bits >= 4:
        flips += [
            F.col("qb").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    probe_buckets = F.array(F.col("qb"), *flips)
    cand = emb_b.crossJoin(F.broadcast(q)).filter(
        F.array_contains(probe_buckets, F.col("bucket"))
    )
    dsum = F.aggregate(
        F.zip_with("embedding", "qe", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    cos = dsum / (norm(F.col("embedding")) * norm(F.col("qe")))
    return (
        cand.select("vec_id", cos.alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("c", 3).alias("cos_sim"))
    )


def q_ann_ivf_top10(spark, sf_dir, dim: int = 64):
    """Scale-path ANN #2: IVF partition pruning (operators/ann_ivf.py).
    16 deterministic spherical-k-means centroids (1 refine iteration),
    every vector assigned to its nearest centroid by a broadcast argmax
    (no shuffle), query searches only the nprobe=10 nearest clusters
    with exact cosine. Approximate by design -> rows-only check; recall
    vs the brute-force top-10 is pinned in tests/test_invariants.py. At
    100 TB cluster_id becomes the candidate-file partition key, so the
    probe reads nprobe/K of the table."""
    from featuregenerator_spark.operators.ann_ivf import ivf_build, ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, dim=dim, n_centroids=16)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    return ivf_topk(assigned, centroids, query, k=10, nprobe=10)


def q_text_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop = F.array(F.lit("the"), F.lit("a"), F.lit("of"), F.lit("and"))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    avg_len = (F.length("text") - (n_tokens - 1)).cast("double") / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
        F.md5(F.encode(F.lower("text"), "UTF-8")).alias("fingerprint"),
    )


def q_lang_id(spark, sf_dir):
    """Marker-voting language ID (n-gram heuristic) per document."""
    from featuregenerator_spark.operators.text_analysis import lang_id

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


def q_lang_id_trigram(spark, sf_dir):
    """Character-trigram profile language ID (10 languages).

    The production replacement for the marker-voting toy above: top-400
    discriminatively-weighted trigram profiles per language broadcast as a
    4k-row table, explode + broadcast-hash-join + one map-side-partial
    weighted-sum argmax per document.
    Accuracy >= 0.95 is pinned on a held-out multilingual fixture in
    tests/test_text_analysis.py; this driver row pins engine parity
    (Spark vs DuckDB run the identical relational program).
    """
    from featuregenerator_spark.functions.lang_trigram import with_lang_id_trigram

    docs = _docs(spark, sf_dir)
    return with_lang_id_trigram(docs, "doc_id").select("doc_id", "lang_pred")


def q_token_count_regex(spark, sf_dir):
    """BPE-ish regex pre-tokenizer token count."""
    from featuregenerator_spark.operators.text_analysis import token_count

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))


def q_corpus_stats_per_source(spark, sf_dir):
    """Corpus profiling per source — the know-your-data telemetry every
    mixture decision starts from: doc counts, token totals, token-count
    mean, char-length extremes, language spread. One map-side-combined
    groupBy(source); at 100 TB this is the cheapest query in the engine
    (a single shuffle of one row per source per partition)."""
    docs = _docs(spark, sf_dir)
    ntok = F.size(F.split("text", " "))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("mean_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def q_negative_pairs(spark, sf_dir):
    """Deterministic contrastive negative sampling over the embeddings
    table: md5-addressed candidates (zero RNG — identical pair sets
    across runs/retries/engines), one uniform equijoin on the addressed
    id, rejection-without-resampling for self/same-label collisions.
    The oracle computes the identical md5 addresses in DuckDB."""
    from featuregenerator_spark.operators.sampling import negative_pairs

    par = spark.sparkContext.defaultParallelism
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    ).repartition(par, "vec_id")
    return negative_pairs(emb, k=4)


def q_psi_drift_cat(spark, sf_dir):
    """Categorical-distribution PSI: language-mix drift between two
    declarative document windows. Categories are their own bins, the
    category set is the union of both windows (absent side clamps to
    eps — new/vanished languages contribute large finite terms), one
    row per category with shares and its nano-quantized PSI term.
    Two map-side-combined counts; everything after is category-sized."""
    from featuregenerator_spark.operators.feature_encoding import (
        psi_drift_categorical,
    )

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "lang").repartition(
        par, "doc_id"
    )
    ref = docs.filter(F.col("doc_id") % 3 != 0).select("lang")
    cur = docs.filter(F.col("doc_id") % 3 == 0).select("lang")
    return psi_drift_categorical(ref, cur, "lang")


def q_bpe_token_count(spark, sf_dir):
    """Per-doc token counts under the 3-merge BPE vocab learned on the
    same corpus — train + apply composed in one plan; the apply path is
    a broadcast vocab lookup (never a per-doc re-merge). Oracle = the
    unrolled training CTEs joined back to the document word stream."""
    from featuregenerator_spark.operators.bpe import bpe_token_counts

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return bpe_token_counts(docs, rounds=3)


def q_psi_drift(spark, sf_dir):
    """Per-category PSI feature-drift monitor between two declarative
    event windows (reference = event_id % 3 != 0, current = the rest):
    bins from the reference window's per-category quintile edges
    (percentile == quantile_cont, pinned), standard eps smoothing for
    empty bins, per-bin terms quantized to nano-units before the
    per-category sum (exact long adds). Only the percentile agg and two
    binned counts touch the corpus; everything after is
    (category x bins)-sized."""
    from featuregenerator_spark.operators.feature_encoding import psi_drift

    par = spark.sparkContext.defaultParallelism
    ev = (
        _read(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .repartition(par, "event_id")
    )
    ref = ev.filter(F.col("event_id") % 3 != 0)
    cur = ev.filter(F.col("event_id") % 3 == 0)
    return psi_drift(ref, cur, "value", "event_type")


def q_bpe_train(spark, sf_dir):
    """Relational BPE tokenizer training: 3 byte-pair merges learned on
    the corpus word-frequency table (argmax pair under the exact
    (count DESC, left, right) order, kept as a broadcast one-row
    DataFrame — no collect), each applied with greedy left-to-right
    non-overlapping semantics via gaps-and-islands windows; output =
    every distinct word tokenized under the learned merges. The oracle
    unrolls all 3 rounds as CTEs — counts are exact longs and string
    compares binary, so the entire iterative computation (argmax
    choices included) reproduces bit-for-bit."""
    from featuregenerator_spark.operators.bpe import bpe_train_tokenize

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("text").repartition(par)
    # space-joined, like the oracle's string_agg: a flat string row
    # canonicalizes in every checker, an array cell may not
    return bpe_train_tokenize(docs, rounds=3).withColumn(
        "toks", F.array_join("toks", " ")
    )


def _build_bpe_oracle(rounds: int, final: str | None = None) -> str:
    """The bpe_train_tokenize computation as unrolled DuckDB CTEs —
    generated so every round is textually identical (same operator
    chain the Spark plan builds per round). ``final`` overrides the
    closing SELECT (used by bpe_token_count's apply composition)."""
    parts = [
        """
            WITH wf AS (
              SELECT w, count(*) AS wc FROM (
                SELECT unnest(string_split(text, ' ')) AS w
                FROM documents) WHERE w <> '' GROUP BY w),
            t1 AS (
              SELECT w, wc, generate_subscripts(cs, 1) AS pos,
                     unnest(cs) AS tok
              FROM (SELECT w, wc, string_split(w, '') AS cs FROM wf))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
            p{r} AS (
              SELECT w, wc, pos, tok,
                     lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
              FROM t{r}),
            b{r} AS (
              SELECT tok AS l, nxt AS r FROM p{r} WHERE nxt IS NOT NULL
              GROUP BY tok, nxt
              ORDER BY sum(wc) DESC, tok ASC, nxt ASC LIMIT 1),
            m{r} AS (
              SELECT p.w, p.wc, p.pos, p.tok, b.l, b.r,
                     (p.tok = b.l AND p.nxt = b.r) AS match
              FROM p{r} p CROSS JOIN b{r} b),
            g{r} AS (
              SELECT *, CASE WHEN match THEN pos - cum END AS grp
              FROM (SELECT *, sum(CASE WHEN match THEN 1 ELSE 0 END)
                             OVER (PARTITION BY w ORDER BY pos) AS cum
                    FROM m{r})),
            x{r} AS (
              SELECT *, (match AND (pos - island_start) % 2 = 0) AS sel
              FROM (SELECT *, min(CASE WHEN match THEN pos END)
                             OVER (PARTITION BY w, grp) AS island_start
                    FROM g{r})),
            t{r + 1} AS (
              SELECT w, wc,
                     row_number() OVER (PARTITION BY w ORDER BY pos)
                       AS pos,
                     CASE WHEN sel THEN l || r ELSE tok END AS tok
              FROM (SELECT *, lag(sel) OVER (PARTITION BY w
                                             ORDER BY pos) AS absorbed
                    FROM x{r})
              WHERE absorbed IS NULL OR NOT absorbed)"""
        )
    parts.append(
        final
        if final is not None
        else f"""
            SELECT w, wc, string_agg(tok, ' ' ORDER BY pos) AS toks
            FROM t{rounds + 1} GROUP BY w, wc"""
    )
    return "".join(parts)


_BPE_COUNT_FINAL = """,
            v AS (SELECT w, count(*) AS n_tok
                  FROM t4 GROUP BY w),
            dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents)
            SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM dw JOIN v USING (w) WHERE w <> ''
            GROUP BY doc_id"""


def q_target_encode_pit(spark, sf_dir):
    """Leakage-safe target encoding of event_type against value: both
    the per-category statistic and the global smoothing prior are
    strictly-prior window frames under the unique (ts, event_id) order
    — the row never sees its own target or its future (the same as-of
    discipline as the snapshot join). Targets quantize to exact long
    micro-units so every running sum is order-independent; the global
    prior leg runs as a two-level distributed prefix sum chunked by
    event date (within-day frames parallel by day + a #days-row prefix
    table broadcast back), never a single-partition global sort. The
    oracle computes the global frame directly — the gate proves
    chunked == global."""
    from featuregenerator_spark.operators.feature_encoding import (
        target_encode_pit,
    )

    par = spark.sparkContext.defaultParallelism
    ev = (
        _read(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartition(par, "event_id")
        .withColumn("ds", F.to_date("ts"))
    )
    out = target_encode_pit(
        ev,
        cat_col="event_type",
        target_col="value",
        order_cols=("ts", "event_id"),
        smoothing=20,
        chunk_col="ds",
    )
    return out.select("event_id", "event_type", "te")


def q_quantile_bins(spark, sf_dir):
    """Data-driven quantile binning: bucket edges learned at the
    quartiles of a declarative train split (event_id % 10 < 8), applied
    to every event as a broadcast one-row cross join + an edge-array
    fold in codegen (no join per edge, no UDF). Spark `percentile` ==
    DuckDB `quantile_cont` bit-for-bit (pinned by the sketch battery),
    so the learned edges — and therefore every bin index — gate-check
    exactly. The upstream stage that produces raw_feature/bucketize's
    pre-computed bounds at corpus scale."""
    from featuregenerator_spark.operators.feature_encoding import quantile_bins

    par = spark.sparkContext.defaultParallelism
    ev = _read(spark, sf_dir, "events").select("event_id", "value")
    train = ev.filter(F.col("event_id") % 10 < 8)
    return quantile_bins(
        train, ev.repartition(par, "event_id"), "value"
    ).select("event_id", "value", "bin")


_HTML_T0_PRE = (
    '<html><head><title>T</title><script type="text/javascript">'
    "var x = 1 < 2;</script></head><body><p>"
)
_HTML_T0_POST = (
    '</p><!-- tracking --><div class="footer">&copy; 2026</div>'
    "</body></html>"
)
_HTML_T1_PRE = "<body><h1>Title!</h1><ul><li>"
_HTML_T1_POST = (
    "</li><li>second &amp; third</li></ul><br/>"
    "<style>p { color: red }</style></body>"
)
_HTML_T2_PRE = '<div><p>He said &quot;'
_HTML_T2_POST = '&quot; &lt;verbatim&gt;</p><script>alert("x");</script></div>'


def q_html_extract(spark, sf_dir):
    """Rule-based HTML main-content extraction over deterministic
    markup (4 templates: full page with script+comment+footer, list
    body with style block and entities, entity-quoted paragraph, and
    bare text that must pass through unchanged). One regexp/replace
    chain per doc inside whole-stage codegen — script/style/comment
    removal, block-closers -> newlines, tag strip, entity decode (amp
    last), line trim — with tag-count audit. The DuckDB oracle runs
    the identical pattern chain (RE2-safe, lookaround-free)."""
    from featuregenerator_spark.operators.html_extract import with_html_extract

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    text = F.col("text")
    html = F.element_at(
        F.array(
            F.concat(F.lit(_HTML_T0_PRE), text, F.lit(_HTML_T0_POST)),
            F.concat(F.lit(_HTML_T1_PRE), text, F.lit(_HTML_T1_POST)),
            F.concat(F.lit(_HTML_T2_PRE), text, F.lit(_HTML_T2_POST)),
            text,
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    return with_html_extract(
        docs.select("doc_id", html.alias("html"))
    ).select("doc_id", "extracted", "n_lines", "n_tags")


_URL_HOSTS = (
    "ads7.example.com",
    "cdn.tracker.net",
    "docs.spark.apache.org",
    "user:pw@mirror.spam-mill.biz:8080",
    "blog.example.com",
    "en.wikipedia.org",
    "sub.deep.tracker.net",
)
_URL_BLOCKLIST = ("ads7.example.com", "tracker.net", "spam-mill.biz")


def q_url_domain_filter(spark, sf_dir):
    """UT1-style domain blocklist audit: deterministic per-doc URLs
    (7 host shapes covering exact-block, subdomain-block, userinfo@,
    :port, multi-level subdomains, and clean hosts), host/registrable-
    domain extraction via RE2-safe regexes, and suffix-rule matching as
    host-suffix explode + broadcast equijoin — never a per-rule
    endswith scan (O(docs x labels), not O(docs x rules); UT1 is ~4M
    rules). Quarantine-don't-discard: every row survives with a
    blocked flag so drop rates are observable."""
    from featuregenerator_spark.operators.url_filter import filter_blocklisted

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id").repartition(par, "doc_id")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _URL_HOSTS]),
        (F.col("doc_id") % 7 + 1).cast("int"),
    )
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return filter_blocklisted(docs, _URL_BLOCKLIST)


def q_kmeans_assign(spark, sf_dir):
    """Distributed Lloyd k-means (k=8, 2 iterations) over the embeddings
    table with bit-reproducible integer arithmetic: milli-unit
    quantization, exact long distances, round(long-sum/count) centroid
    updates — the whole recurrence is order-independent, so the unrolled
    2-iteration SQL oracle reproduces Spark's assignments EXACTLY (no
    float-fold knife edges, the quality_model_score lesson applied to an
    iterative algorithm). Assignment is a broadcast nested-loop over k
    centroid rows; the update shuffles k*d long rows per iteration."""
    from featuregenerator_spark.operators.kmeans import kmeans_assign

    par = spark.sparkContext.defaultParallelism
    emb = _read(spark, sf_dir, "embeddings").repartition(par, "vec_id")
    return kmeans_assign(emb, k=8, iters=2)


def q_bm25_topk(spark, sf_dir):
    """Top-10 documents for a 4-term probe query under Okapi BM25
    (k1=1.2, b=0.75, Lucene log-smoothed idf) — corpus search for
    quality triage and decontamination forensics. The exploded token
    stream is filtered to the query vocabulary inside the same codegen
    pass as the explode (query-sized shuffle, not corpus-sized); corpus
    stats ride one broadcast row; per-term contributions quantize to
    integer micro-units before the per-doc sum so the aggregation is
    order-independent (exact long adds — the quality_model_score
    lesson); top-k is TakeOrderedAndProject, never a global window."""
    from featuregenerator_spark.operators.retrieval import bm25_topk

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return bm25_topk(docs, ("spark", "merge", "vector", "window"), k=10)


def q_tfidf_top_terms(spark, sf_dir):
    """Top-5 TF-IDF terms per document (tf x smoothed idf, scikit-learn
    formulation), fully relational with a deterministic (score DESC,
    term ASC) tiebreak so both engines rank identically — the salient-
    term extractor of the text-analysis battery. N rides a broadcast
    one-row cross join; the df table is vocabulary-sized."""
    from featuregenerator_spark.operators.text_analysis import tfidf_top_terms

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    return tfidf_top_terms(docs, k=5)


def q_quality_score(spark, sf_dir):
    from featuregenerator_spark.operators.text_analysis import quality_score

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


def q_doc_fingerprint(spark, sf_dir):
    """Order-sensitive polynomial rolling hash (engine-portable)."""
    from featuregenerator_spark.operators.text_analysis import rolling_fingerprint

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")
    )


def q_neardup_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs within same-label buckets (the
    blocking key bounds the pair space; at 100 TB the label comes from an
    LSH bucket — see minhash_lsh_candidates)."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("e"),
    )
    norm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, v: a + v * v))
    emb = emb.withColumn("n", norm)
    par = spark.sparkContext.defaultParallelism
    a, b = emb.repartition(par, "vec_id").alias("a"), emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("a.n") * F.col("b.n"))
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, 4).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= 0.3)


def q_dedup_cc_cosine(spark, sf_dir):
    """Semantic dedup clustering (SemDeDup-adjacent): connected
    components over the embedding-cosine near-dup edges — the third
    edge type through the same pointer-jumping CC (token-Jaccard and
    LSH-candidate edges are the other two). Oracle = DuckDB recursive
    CTE min-reachable over the identical edge set (the cosine edge
    definition is itself the gate-checked neardup_cosine query)."""
    from featuregenerator_spark.operators.dedup_cluster import (
        connected_components,
    )

    edges = q_neardup_cosine(spark, sf_dir)
    comp = connected_components(edges, "vec_a", "vec_b")
    return comp.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("component")
    )


def q_chunk_pack_documents(spark, sf_dir):
    """The training-batch tail: chunk documents into overlapping token
    windows (max 40 tokens, overlap 8 — context-window fitting), then
    pack chunks into capacity-256 bins per source (contiguous
    deterministic packing: exclusive running token total -> floor by
    capacity). Chunking is ONE map-only sequence/slice HOF per row (no
    shuffle, no UDF); packing is a per-source window. Both stages are
    fully DuckDB-oracle-checked, chunk CONTENT included (md5 of the
    rejoined tokens)."""
    from featuregenerator_spark.operators.chunk_pack import (
        chunk_documents,
        pack_chunks,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    ch = chunk_documents(docs, max_tokens=40, overlap=8).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    packed = pack_chunks(ch, capacity=256, by=["source"])
    return packed.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_md5"),
        F.col("chunk_tokens").cast("int").alias("chunk_tokens"),
        "source",
        "pack_id",
        "pack_offset",
    )


def q_dataset_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) from the
    mixture stage's md5-hex draw rule: a document's split never changes
    across runs, retries, or clusters — the property that keeps eval
    sets uncontaminated when the corpus is rebuilt. Pure map-only
    Column expression; the DuckDB oracle computes the identical hex
    compare chain."""
    from featuregenerator_spark.operators.sampling import split_assign

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        split_assign(
            F.col("doc_id"), {"train": 0.8, "val": 0.9, "test": 1.0}
        ).alias("split"),
    )


def q_sample_stratified_lang(spark, sf_dir):
    """Exactly min(20, group size) docs per language by deterministic
    md5 order — balanced eval-set construction with run/retry/cluster-
    stable membership. One top-n window per group (partial top-n
    before the shuffle, so full groups never move)."""
    from featuregenerator_spark.operators.sampling import (
        stratified_sample_exact,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample_exact(docs, ["lang"], n=20)


def q_decontaminate_benchmark(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/Llama n-gram overlap rule):
    flag corpus docs sharing any 8-token window with a held-out
    benchmark slice (doc_id % 50 == 0). The benchmark's distinct window
    hashes broadcast-semi-join the corpus window stream — the corpus is
    touched once, no corpus-sized shuffle. Spark joins xxhash64 longs;
    the DuckDB oracle joins the window STRINGS, so the gate proves hash
    grouping == string grouping (the substring-dedup argument)."""
    from featuregenerator_spark.operators.substring_dedup import decontaminate

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir).select("doc_id", "text").repartition(par, "doc_id")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, bench, k=8)


def q_pack_materialize(spark, sf_dir):
    """The packed sequences a trainer consumes: chunk -> pack -> one row
    per bin with the chunks concatenated in (doc, chunk) order behind a
    separator token. Order comes from array_sort over (doc, chunk, text)
    structs inside a map-side-combinable aggregate (no second window
    pass); the oracle rebuilds the same bins with string_agg ORDER BY —
    packed CONTENT checked via md5."""
    from featuregenerator_spark.operators.chunk_pack import (
        chunk_documents,
        materialize_packs,
        pack_chunks,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    ch = chunk_documents(docs, max_tokens=40, overlap=8).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    packed = pack_chunks(ch, capacity=256, by=["source"])
    out = materialize_packs(packed, by=["source"])
    return out.select(
        "source",
        "pack_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.encode("packed_text", "UTF-8")).alias("packed_md5"),
    )


def q_config_compiled_chunks(spark, sf_dir):
    """The declarative contract over the training-batch tail: one JSON
    document declares a row filter -> chunk (row-amplifying, validated
    against later per-id lifts at parse time) -> pack, applied in
    declaration order. Oracle = the chunk_pack SQL composed with the
    same WHERE — the gate proves config-compiled == hand-built."""
    from featuregenerator_spark.spec import compile_pipeline

    cfg = {
        "features": [
            {"feature_type": "filter", "feature_name": "keep_big",
             "predicate": "n_chars >= 100"},
            {"feature_type": "chunk", "feature_name": "ck",
             "id_column": "doc_id", "max_tokens": 40, "overlap": 8},
            {"feature_type": "pack", "feature_name": "pk",
             "capacity": 256, "tokens_column": "ck_tokens",
             "order_by": ["doc_id", "ck_idx"], "by": ["source"]},
        ]
    }
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars", "text")
    out = compile_pipeline(cfg, docs)
    return out.select(
        "doc_id",
        F.col("ck_idx").alias("chunk_idx"),
        F.md5(F.encode("ck_text", "UTF-8")).alias("chunk_md5"),
        F.col("ck_tokens").cast("int").alias("chunk_tokens"),
        "source",
        F.col("pk_id").alias("pack_id"),
        F.col("pk_offset").alias("pack_offset"),
    )


def q_streaming_decayed_parity(spark, sf_dir):
    """Streaming EWMA as a DRIVER-CHECKED query: the events table rides
    readStream -> applyInPandasWithState (state per user = TWO doubles:
    the decayed count valued at the last timestamp + that timestamp —
    O(1), never grows with history) -> memory sink, and the DuckDB
    oracle is the batch EWMA formula's decayed_count column VERBATIM —
    the gate itself proves streaming == batch for the time-decayed
    feature family, including tied-timestamp semantics."""
    from featuregenerator_spark.streaming.stream_features import (
        read_event_stream,
        run_stream_to_memory,
        running_decayed_count,
    )

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = running_decayed_count(stream, half_life_seconds=86400.0)
    name = "ev_decay_parity"
    spark.catalog.dropTempView(name)
    run_stream_to_memory(out, name)
    return spark.table(name).select(
        "event_id", F.round("decayed_count", 6).alias("decayed_count")
    )


def q_interval_session_assign(spark, sf_dir):
    """Range join (point-in-interval) via time bucketing: assign events
    to +/-2000s-padded session windows by CONTAINMENT (the pad exceeds
    the 1800s session gap, so events near a boundary genuinely match
    two windows — a real 1-to-many range join, not a relabeling). Spark has no native range-join operator; the naive
    key-equijoin + BETWEEN filter evaluates O(points x intervals) pairs
    per key. plans/interval.py explodes each interval into the hourly
    buckets it covers and equijoins on (user, bucket), so only
    bucket-local pairs are ever materialized. The DuckDB oracle is the
    naive BETWEEN join over the same sessionize-composed windows — the
    gate proves bucketed == naive."""
    from featuregenerator_spark.plans.interval import interval_join

    ev = _events(spark, sf_dir)
    gap = F.col("ts_sec") - F.lag("ts_sec").over(_W_USER())
    boundary = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    idx = F.sum(boundary).over(
        _W_USER().rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        ev.withColumn("session_idx", idx.cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(
            (F.min("ts_sec") - 2000).alias("win_start"),
            (F.max("ts_sec") + 2000).alias("win_end"),
        )
    )
    points = ev.select("user_id", "event_id", "ts_sec")
    out = interval_join(
        points,
        sess,
        on="user_id",
        point_ts="ts_sec",
        start_ts="win_start",
        end_ts="win_end",
        bucket_seconds=3600.0,
    )
    return out.select(
        "event_id", F.col("session_idx").alias("matched_session")
    )


def q_ewma_decayed_activity(spark, sf_dir):
    """Exponentially time-decayed activity features (half-life 1 day):
    the recency-weighted prior-event count and prior-value sum every
    feature store keeps, with no window-edge cliff. The recurrence
    factors into a pure range-frame window (plans/temporal.py
    with_decayed_sum) — same single hash(user) Exchange + sort as the
    other window features, zero per-row Python — and the identical
    factored formula runs in DuckDB, so the decayed values themselves
    are oracle-checked (strictly-prior semantics: zero leakage)."""
    from featuregenerator_spark.plans.temporal import with_decayed_sum

    ev = _events(spark, sf_dir)
    out = with_decayed_sum(ev, 86400.0, "decayed_count", conv="user_id")
    out = with_decayed_sum(
        out, 86400.0, "decayed_value", value=F.col("value"), conv="user_id"
    )
    return out.select(
        "event_id",
        F.round("decayed_count", 6).alias("decayed_count"),
        F.round("decayed_value", 6).alias("decayed_value"),
    )


def q_sketch_profile_events(spark, sf_dir):
    """The theta-sketch profiling battery next to its exact baselines,
    per event_type: distinct-user estimate (deterministic md5 key draw,
    theta=0.25 — only sampled keys reach the distinct shuffle, the
    actual count-distinct bottleneck at 100 TB) and value-quantile
    estimates (p50/p95 over the md5 ROW sample; the sample is the
    mergeable object — union of per-batch samples == sample of the
    union — and the per-group sort shrinks to ~theta of the rows). The
    draw rule is the mixture resampler's md5-hex compare and Spark
    ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit, so the
    SKETCH OUTPUTS themselves are oracle-checked exactly, not just the
    exact baselines; accuracy and merge invariance are pinned in
    tests/test_sketches.py."""
    from featuregenerator_spark.operators.sketches import (
        theta_distinct,
        theta_quantiles,
    )

    ev = _events(spark, sf_dir)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.percentile("value", F.lit(0.5)).alias("p50_exact"),
        F.percentile("value", F.lit(0.95)).alias("p95_exact"),
    )
    sk = theta_distinct(ev, "user_id", ["event_type"], theta=0.25)
    qk = theta_quantiles(
        ev, "value", ["event_type"], [0.5, 0.95], row_key="event_id"
    ).withColumnRenamed("n_sampled", "n_rows_sampled")
    return (
        exact.join(sk, "event_type", "left")
        .join(qk, "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("est_distinct", F.lit(0.0)).alias("est_distinct"),
            F.round("p50_exact", 6).alias("p50_exact"),
            F.round("p95_exact", 6).alias("p95_exact"),
            F.coalesce("n_rows_sampled", F.lit(0)).alias("n_rows_sampled"),
            F.round("q_0_5", 6).alias("p50_est"),
            F.round("q_0_95", 6).alias("p95_est"),
        )
    )


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): IVF multi-assignment blocking (each
    vector indexed into its 3 nearest of 8 deterministic spherical-
    k-means cells), exact cosine only WITHIN cells, pointer-jumping CC
    over the surviving edges, keep the minimum id per semantic-duplicate
    component. Deterministic end-to-end (xxhash64 seeds, no RNG) but the
    k-means is iterative -> rows-only check; edge recall >= 0.95 vs the
    unblocked brute-force edge set and decision parity vs global-edge CC
    are pinned in tests/test_invariants.py. At 100 TB the per-cell pair
    scans shard across executors and the candidate volume is ~n^1.5
    (K ~ sqrt(n)) instead of n^2."""
    from featuregenerator_spark.operators.semdedup import semdedup

    emb = _read(spark, sf_dir, "embeddings")
    return semdedup(emb, dim=64).select(
        "vec_id", "rep_id", F.col("keep").cast("int").alias("keep")
    )


def q_streaming_snapshot_parity(spark, sf_dir):
    """Structured Streaming end-to-end as a DRIVER-CHECKED query: the
    events table rides through readStream -> applyInPandasWithState
    (per-user running snapshot: prior-event count + gap to the previous
    event, state carried across micro-batches) -> memory sink driven to
    completion, and the emitted rows must equal the batch window
    formulation (row_number/lag per user) — so the DuckDB oracle checks
    the real streaming engine path, not a batch stand-in. Multi-batch
    state carry-over and checkpoint resume are pinned separately in
    tests/test_streaming_multimodal.py; the memory sink is the bounded
    parity harness (production streams write files/Kafka)."""
    from featuregenerator_spark.streaming.stream_features import (
        read_event_stream,
        run_stream_to_memory,
        running_event_snapshot,
    )

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = running_event_snapshot(stream)
    # deterministic sink name, replaced per run — uuid names accumulated
    # one in-memory table per invocation across a bench/driver session
    name = "ev_snap_parity"
    spark.catalog.dropTempView(name)
    run_stream_to_memory(out, name)
    t = spark.table(name)
    # pandas emits NaN (not NULL) for each user's first gap; align with
    # the SQL lag() convention before the oracle compare
    gap_col = F.when(F.isnan("gap_seconds"), F.lit(None)).otherwise(
        F.col("gap_seconds")
    )
    return t.select(
        "event_id",
        "n_prior_events",
        F.round(gap_col, 6).alias("gap_seconds"),
    )


def q_streaming_sessionize_parity(spark, sf_dir):
    """Streaming sessionization as a DRIVER-CHECKED query: the events
    table rides through readStream -> F.session_window (the engine's
    native gap-session operator) -> memory sink in COMPLETE mode (a
    bounded source never advances the watermark past its own tail, so
    append mode would hold back every session ending within the gap of
    max event time). Sessions are then labeled 1..n per user by start
    time — and the DuckDB oracle is the batch sessionize_30m SQL composed
    verbatim as a CTE, so the gate itself proves the streaming session
    operator equals the batch window formulation, per session CONTENTS
    (count + min/max event id), not just counts."""
    from featuregenerator_spark.streaming.stream_features import (
        event_session_aggregates,
        read_event_stream,
        run_stream_to_memory,
    )

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = event_session_aggregates(stream, gap="30 minutes")
    name = "ev_sess_parity"
    spark.catalog.dropTempView(name)
    run_stream_to_memory(out, name, output_mode="complete")
    t = spark.table(name)
    w = Window.partitionBy("user_id").orderBy("session_start")
    return t.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_idx"),
        "n_events",
        "min_event_id",
        "max_event_id",
    )


def q_streaming_dedup_parity(spark, sf_dir):
    """The incremental-ingest dedup decision run as a REAL stream:
    today's batch (doc_id % 10 == 0) arrives via readStream and
    stream-static-joins the static corpus (stateless — corpus state
    never accumulates in the engine); each arriving doc emits its best
    corpus match. The DuckDB oracle is q_dedup_incremental's SQL
    VERBATIM, so the gate itself proves the streaming path computes
    the identical dedup decisions as the batch path — the
    continuous-ingest upgrade of the daily job."""
    from featuregenerator_spark.streaming.stream_features import (
        incremental_dedup_stream,
        read_document_stream,
        run_stream_to_memory,
    )

    stream = read_document_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    new_docs = stream.filter(F.col("doc_id") % 10 == 0)
    corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 != 0)
    out = incremental_dedup_stream(new_docs, corpus)
    name = "dedup_inc_stream_parity"
    spark.catalog.dropTempView(name)
    run_stream_to_memory(out, name, "complete")
    return spark.table(name).select("doc_id", "match_id", "jaccard")


def q_streaming_window_counts(spark, sf_dir):
    """Streaming tumbling-window aggregation as a DRIVER-CHECKED query:
    events ride through readStream -> F.window('1 hour') groupBy ->
    memory sink in COMPLETE mode (bounded-source flush, as with the
    session query), and the per-(hour, event_type) counts/sums must
    equal DuckDB's date_trunc formulation — the third streaming surface
    (stateful snapshot, session_window, tumbling window) proven through
    the gate rather than only through pytest parity."""
    from featuregenerator_spark.streaming.stream_features import (
        read_event_stream,
        run_stream_to_memory,
    )

    stream = read_event_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sv"),
        )
    )
    name = "ev_win_parity"
    spark.catalog.dropTempView(name)
    run_stream_to_memory(agg, name, output_mode="complete")
    t = spark.table(name)
    return t.select(
        F.col("window.start").cast("long").alias("win_start"),
        "event_type",
        "n_events",
        F.round("sv", 4).alias("sum_value"),
    )


def q_session_stats(spark, sf_dir):
    """Conversation/session-level feature vectors: per-session event count,
    duration, mean value (north_star conversation-level features)."""
    ev = _events(spark, sf_dir)
    gap = F.col("ts_sec") - F.lag("ts_sec").over(_W_USER())
    boundary = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    idx = F.sum(boundary).over(_W_USER().rowsBetween(Window.unboundedPreceding, 0))
    s = ev.withColumn("session_idx", idx)
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("ts_sec") - F.min("ts_sec"), 6).alias("duration_s"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    ).withColumn("session_idx", F.col("session_idx").cast("long"))


def q_asof_tolerance(spark, sf_dir):
    """As-of join with tolerance (the kernel's timediff at pipeline level):
    matches older than 1h become null."""
    from featuregenerator_spark.plans.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .withColumn("pts", F.col("ts").cast("timestamp").cast("double"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="pts",
        value_cols=["pv"],
        strict=True,
        tolerance=3600.0,
    )
    return joined.select(
        "event_id", F.round("pv", 4).alias("pv_1h")
    )


def q_match_multihit(spark, sf_dir):
    """match_feature multihit with double wildcard over a two-category
    profile built from customer columns."""
    from featuregenerator_spark.operators.match_feature import (
        match_multihit_sparse,
        parse_user_info,
    )

    cust = _read(spark, sf_dir, "customer")
    profile = F.concat(
        F.lit("seg^"), F.col("c_mktsegment"), F.lit(":1|nat^n"),
        F.col("c_nationkey").cast("string"), F.lit(":2"),
    )
    m = parse_user_info(profile)
    keys = match_multihit_sparse(m, F.lit("ALL"), F.lit("ALL"), "mh")
    return cust.select("c_custkey", F.to_json(keys).alias("mh_keys"))


def q_match_cos(spark, sf_dir):
    """match_feature cos: int dot product of item k:v list vs user dict,
    scaled int(dot/(100*100*matched)*100) — values chosen so the float32
    scaling is exact (oracle-portable)."""
    from featuregenerator_spark.operators.match_feature import (
        match_cos,
        parse_user_info,
    )

    cust = _read(spark, sf_dir, "customer")
    m = parse_user_info(F.lit("seg^a:100,b:50"))
    # values are dyadic multiples of the 1/20000 scale factor, so the f32
    # scaling arithmetic is exact and the oracle's double math agrees
    item = F.concat(
        F.lit("a:"), (F.pmod(F.col("c_custkey"), F.lit(2)) * 50).cast("string"),
        F.lit(",b:"), (F.pmod(F.col("c_custkey"), F.lit(4)) * 25).cast("string"),
    )
    return cust.select(
        "c_custkey", match_cos(m, F.lit("seg"), item).alias("cos_scaled")
    )


def q_combo_multivalue(spark, sf_dir):
    """combo_feature over array inputs: words of p_type (pruned to first 2)
    x [p_brand] -> cartesian keys."""
    from featuregenerator_spark.operators.combo_feature import combo_feature_multi

    part = _read(spark, sf_dir, "part")
    keys = combo_feature_multi(
        [F.split(F.col("p_type"), " "), F.array(F.col("p_brand"))],
        "cm",
        prune_limits=[2, None],
    )
    return part.select("p_partkey", F.to_json(keys).alias("combo_keys"))


def q_lookup_v2_hashed(spark, sf_dir):
    """lookup_feature_v2 semantics: offline encode (key->hash64(key) map),
    online probe + sum combine. The hash is internal (hash(k)==hash(p) iff
    k==p), so the oracle is the plain closed-form lookup."""
    from featuregenerator_spark.operators.lookup_encoded import (
        encode_map,
        lookup_encoded_scalar,
    )

    part = _read(spark, sf_dir, "part")
    enc = encode_map(
        F.array(F.lit("price"), F.lit("size")),
        F.array(F.col("p_retailprice"), F.col("p_size").cast("double")),
    )
    v = lookup_encoded_scalar(
        enc, F.array(F.lit("price"), F.lit("size"), F.lit("missing")), "sum"
    )
    return part.select("p_partkey", F.round(v, 4).alias("v2_sum"))


def q_lookup_v3_multidim(spark, sf_dir):
    """lookup_feature_v3 semantics: map<hash,array<float>> probe with
    element-wise sum per dimension (value_dimension=2)."""
    from featuregenerator_spark.operators.lookup_encoded import (
        encode_map,
        lookup_encoded_multidim,
    )

    part = _read(spark, sf_dir, "part")
    enc = encode_map(
        F.array(F.lit("a"), F.lit("b")),
        F.array(
            F.array(F.col("p_retailprice"), F.col("p_size").cast("double")),
            F.array(F.col("p_size").cast("double") * 2, F.lit(1.0)),
        ),
    )
    v = lookup_encoded_multidim(enc, F.array(F.lit("a"), F.lit("b"), F.lit("x")), 2, "sum")
    return part.select(
        "p_partkey",
        F.to_json(F.transform(v, lambda x: F.round(x, 4))).alias("v3_dims"),
    )


def q_lookup_legacy_v2(spark, sf_dir):
    """Decode-only path for reference legacy-V2 encoded maps: byte layout
    [sorted murmur64A u64 keys][f32 values] (LookupFeatureEncoder.cpp:
    31-66), probed with a numpy binary search in mapInPandas. f32 storage
    makes the oracle the f32-cast closed form."""
    from featuregenerator_spark.operators.lookup_legacy import (
        lookup_legacy_v2,
        synth_legacy_v2_payloads,
    )

    part = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    enc = synth_legacy_v2_payloads(
        part, {"price": F.col("p_retailprice"), "size": F.col("p_size")}
    )
    out = lookup_legacy_v2(
        enc, "payload", ["price", "size", "missing"], out="legacy_sum"
    )
    return out.select(
        "p_partkey", F.round("legacy_sum", 4).alias("legacy_sum")
    )


def q_lookup_legacy_v3(spark, sf_dir):
    """Decode-only path for reference V3-header encoded maps
    (LookupFeatureDataType.h:8-36): header byte -> (key width, value
    width), sliced-murmur key block, per-key dim-values block. Two legs
    cover both value families: an 8-bit integer layout (small integral
    values -> exact closed form) and a float32 dim=2 layout (oracle =
    f32-cast closed form). Golden vectors from
    LookupFeatureFunctionV3Test.cpp pinned in tests/test_functions.py."""
    from featuregenerator_spark.operators.lookup_legacy import (
        lookup_legacy_v3,
        synth_legacy_v3_payloads,
    )

    part = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size", "p_type"
    )
    enc8 = synth_legacy_v3_payloads(
        part,
        {"size": [F.col("p_size")], "clen": [F.length("p_type")]},
        dim=1,
        value_type=0,  # 8-bit: all values < 255 and integral
        out="pay8",
    )
    out8 = lookup_legacy_v3(
        enc8, "pay8", ["size", "clen", "missing"], dim=1, out_prefix="v8_"
    )
    encf = synth_legacy_v3_payloads(
        out8.drop("pay8"),
        {
            "ps": [F.col("p_retailprice"), F.col("p_size").cast("double")],
            "tax": [F.col("p_size") * 0.5, F.lit(1.0)],
        },
        dim=2,
        value_type=2,  # float32
        out="payf",
    )
    outf = lookup_legacy_v3(
        encf, "payf", ["ps", "tax", "missing"], dim=2, out_prefix="vf_"
    )
    return outf.select(
        "p_partkey",
        F.round("v8_0", 4).alias("v3_int_sum"),
        F.round("vf_0", 4).alias("v3_f32_d0"),
        F.round("vf_1", 4).alias("v3_f32_d1"),
    )


def q_lookup_legacy_btree(spark, sf_dir):
    """Decode-only path for reference B-tree blocked encoded maps
    (BTree.h:1-156, StoreMapDataBTreeVisitor.h:7-68): 12-byte header,
    keys in BFS block order (in-order fill), values positionally paired.
    6 keys at block_size=2 force a real multi-node tree per row; f32
    storage makes the oracle the f32-cast closed form. Structure goldens
    from BTreeTest.cpp pinned in tests/test_legacy_codecs.py."""
    from featuregenerator_spark.operators.lookup_legacy import (
        lookup_legacy_btree,
        synth_legacy_btree_payloads,
    )

    part = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size", "p_type"
    )
    enc = synth_legacy_btree_payloads(
        part,
        {
            "size": [F.col("p_size").cast("double")],
            "clen": [F.length("p_type").cast("double")],
            "pr": [F.col("p_retailprice")],
            "half": [F.col("p_size") * 0.5],
            "one": [F.lit(1.0)],
            "neg": [-F.col("p_size").cast("double")],
        },
        dim=1,
        block_size=2,
        value_type=2,
    )
    out = lookup_legacy_btree(
        enc, "payload", ["size", "pr", "one", "missing"], dim=1,
        out_prefix="bt_",
    )
    return out.select(
        "p_partkey", F.round("bt_0", 4).alias("btree_sum")
    )


def q_lookup_legacy_sparse(spark, sf_dir):
    """Decode-only path for reference bitmap-sparse encoded maps
    (LookupFeatureSparseEncoder.h:9-157): keyNum | sorted u32-sliced
    keys | offsets | per-key MSB-first presence bitmap + non-zero
    values. dim=2 float32 values; oracle = f32-cast closed form. Length
    and bit-order goldens from LookupSparseTest.cpp pinned in tests."""
    from featuregenerator_spark.operators.lookup_legacy import (
        lookup_legacy_sparse,
        synth_legacy_sparse_payloads,
    )

    part = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    enc = synth_legacy_sparse_payloads(
        part,
        {
            "a": [F.col("p_retailprice"), F.col("p_size").cast("double")],
            "b": [F.col("p_size") * 2 + 1, F.lit(3.0)],
        },
        dim=2,
        value_type=2,
        key_type=4,
    )
    out = lookup_legacy_sparse(
        enc, "payload", ["a", "b", "missing"], dim=2, key_type=4,
        out_prefix="sp_",
    )
    return out.select(
        "p_partkey",
        F.round("sp_0", 4).alias("sparse_d0"),
        F.round("sp_1", 4).alias("sparse_d1"),
    )


def q_legacy_encode_roundtrip(spark, sf_dir):
    """WRITE-side legacy codec parity: build per-user {event_type: count}
    maps relationally, ENCODE them into all four reference byte layouts
    (V2 / V3 / sparse / B-tree) in one distributed Arrow pass
    (operators/lookup_writer.py — the migration path for producing
    reference-encoded binary columns from this engine), then DECODE each
    payload back with the existing probe operators. The DuckDB oracle
    computes the same counts directly from events, so the gate proves
    encode -> decode == identity for every codec on real data (values
    are integer counts: exact in f32/u8/u16, order-independent sums).
    v2_len additionally pins the V2 layout size (12 bytes per key).
    Reference encoders: LookupFeatureEncoder.cpp:1-302,
    LookupFeatureSparseEncoder.cpp:87-116, LookupFeatureBTreeEncoder.h."""
    from featuregenerator_spark.operators.lookup_legacy import (
        lookup_legacy_btree,
        lookup_legacy_sparse,
        lookup_legacy_v2,
        lookup_legacy_v3,
    )
    from featuregenerator_spark.operators.lookup_writer import (
        encode_lookup_entries,
    )

    ev = _read(spark, sf_dir, "events")
    ent = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .groupBy("user_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("event_type").alias("key"),
                    F.col("cnt").alias("value"),
                )
            ).alias("entries")
        )
    )
    enc = encode_lookup_entries(
        ent,
        "entries",
        {
            "p_v2": "v2",
            "p_v3": "v3",
            "p_sp": "sparse",
            "p_bt": ("btree", {"block_size": 3}),
        },
    )
    keys = ["purchase", "signup"]
    dec = lookup_legacy_v2(enc, "p_v2", keys, out="v2_val")
    dec = lookup_legacy_v3(dec, "p_v3", keys, dim=1, out_prefix="v3_val_")
    dec = lookup_legacy_sparse(dec, "p_sp", keys, dim=1, out_prefix="sp_val_")
    dec = lookup_legacy_btree(dec, "p_bt", keys, dim=1, out_prefix="bt_val_")
    return dec.select(
        "user_id",
        F.size("entries").alias("n_types"),
        F.length("p_v2").cast("int").alias("v2_len"),
        "v2_val",
        F.col("v3_val_0").alias("v3_val"),
        F.col("sp_val_0").alias("sp_val"),
        F.col("bt_val_0").alias("bt_val"),
    )


def q_overlap_diff(spark, sf_dir):
    """overlap_feature diff_word / hit_ornot / is_equal trio."""
    from featuregenerator_spark.operators.overlap_feature import overlap_feature

    docs = _docs(spark, sf_dir)
    qtok = F.array(F.lit("spark"), F.lit("join"), F.lit("scan"), F.lit("window"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        overlap_feature(qtok, toks, "diff_word").cast("int").alias("diff_words"),
        overlap_feature(qtok, toks, "hit_ornot").cast("int").alias("hit"),
        overlap_feature(qtok, toks, "is_equal").cast("int").alias("eq"),
    )


def q_preclick_match_count(spark, sf_dir):
    """preclick_urb need_match mode: top-20 doc words intersected with a
    match-word set, output the hit count (output_count, capped at 20)."""
    from featuregenerator_spark.operators.preclick_urb import top_words

    docs = _docs(spark, sf_dir)
    tw = top_words(F.array(F.col("text")), "w", need_prefix=False, delim_item=" ")
    match_set = F.array(
        F.lit("table"), F.lit("join"), F.lit("row"), F.lit("the"), F.lit("value")
    )
    hits = F.array_intersect(F.slice(tw, 1, 20), match_set)
    return docs.select(
        "doc_id", F.least(F.size(hits), F.lit(20)).cast("int").alias("match_cnt")
    )


def q_id_feature_multivalue(spark, sf_dir):
    """id_feature on a multi-value input: tokens of p_name, invalid-value
    blacklist, prune_to=3, prefixed keys."""
    from featuregenerator_spark.operators.id_feature import id_feature_multi
    from pyspark.sql import types as T

    part = _read(spark, sf_dir, "part")
    keys = id_feature_multi(
        F.split(F.col("p_name"), " "),
        "nm",
        T.StringType(),
        invalid_values=["of", "the"],
        prune_to=3,
    )
    return part.select("p_partkey", F.to_json(keys).alias("name_keys"))


def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: documents' text bytes as opaque
    binary payloads -> Arrow mapInPandas feature extraction. The byte
    length and payload hash are oracle-checked; the (stubbed) decode
    vector is covered in tests."""
    from featuregenerator_spark.operators.multimodal import decode_assets

    docs = _docs(spark, sf_dir)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").cast("binary").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    feats = decode_assets(assets)
    return feats.select("asset_id", "kind", "n_bytes", "payload_hash")


def q_multimodal_image(spark, sf_dir):
    """REAL image codec end-to-end: deterministic RGB images written as
    byte-exact 24bpp BMP files (pure numpy writer) and decoded back by
    the pure-numpy BMP reader inside mapInPandas. The synth pattern
    (constant R, column-gradient G, row-gradient B) gives every channel
    mean a closed form the oracle states exactly."""
    from featuregenerator_spark.operators.multimodal import (
        decode_bmp_assets,
        synth_bmp_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    feats = decode_bmp_assets(synth_bmp_assets(docs))
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_multimodal_video(spark, sf_dir):
    """REAL video codec end-to-end: deterministic C444 YUV4MPEG2 streams
    (pure-numpy writer) decoded + frame-sampled (every 2nd frame) by the
    pure-numpy reader inside mapInPandas. Constant-luma-per-frame synth
    gives the full and sampled luma means closed forms the oracle states
    exactly."""
    from featuregenerator_spark.operators.multimodal import (
        decode_y4m_assets,
        sample_video_frames,
        synth_y4m_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    vids = synth_y4m_assets(docs)
    full = decode_y4m_assets(vids)
    sampled = decode_y4m_assets(sample_video_frames(vids, every_n=2)).select(
        "asset_id",
        F.col("n_frames").alias("sampled_frames"),
        F.col("mean_y").alias("sampled_mean_y"),
    )
    return full.join(sampled, "asset_id").select(
        "asset_id",
        "width",
        "height",
        "n_frames",
        F.round("mean_y", 6).alias("mean_y"),
        "sampled_frames",
        F.round("sampled_mean_y", 6).alias("sampled_mean_y"),
    )


def q_multimodal_jpeg(spark, sf_dir):
    """REAL compressed-codec path end-to-end: deterministic grayscale
    baseline JPEGs (pure-numpy encoder — DCT, Annex-K quantization,
    Huffman entropy coding, byte stuffing) decoded back by the pure-numpy
    marker-level decoder inside mapInPandas. The synth is four constant
    8x8 blocks with even offsets, so DC quantization at quality 50 is
    exact and every stat has a closed form the oracle states exactly;
    AC-active content is pinned bit-exact against the transform-domain
    reference in tests/test_jpeg.py."""
    from featuregenerator_spark.operators.multimodal import (
        decode_jpeg_assets,
        synth_jpeg_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    feats = decode_jpeg_assets(synth_jpeg_assets(docs))
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_y", 6).alias("mean_y"),
        "y_first",
        "y_last",
    )


def q_multimodal_jpeg_color(spark, sf_dir):
    """COLOR JPEG end-to-end: 3-component YCbCr, 4:2:0 interleaved MCUs
    (4 luma + 2 chroma blocks per 16x16 MCU), chroma quant table and
    chroma Huffman classes, chroma upsample and the inverse color
    transform — all pure numpy. Flat gray RGB blocks (even offsets) make
    the color transform and DC quantization exact, so per-channel means
    have closed forms; chromatic content is pinned bit-exact against the
    transform-domain reference in tests/test_jpeg.py."""
    from featuregenerator_spark.operators.multimodal import (
        decode_jpeg_color_assets,
        synth_jpeg_color_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    feats = decode_jpeg_color_assets(synth_jpeg_color_assets(docs))
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_config_compiled_curation(spark, sf_dir):
    """The declarative contract over the CURATION stage: one JSON config
    declares token counting, Gopher rule metrics, C4 line cleaning, PII
    scrubbing, trigram language ID, a derived curation flag, and the row
    filter — compile_pipeline applies them in declaration order (same
    surface that already declares the whole temporal flagship). The
    filter threshold is chosen so BOTH branches fire at sf0.01 (short
    docs fail keep_doc/n_tokens). Oracle = the individual operators'
    oracle fragments composed as CTEs with the same WHERE."""
    from featuregenerator_spark.spec import compile_pipeline

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1.\n").alias(
            "text_lines"
        ),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org"),
        ).alias("text_pii"),
    )
    config = {
        "features": [
            {"feature_type": "text_metric", "feature_name": "n_tokens",
             "column": "text", "metric": "token_count"},
            {"feature_type": "quality_rule", "feature_name": "stop_hits",
             "column": "text", "metric": "stopword_hits"},
            {"feature_type": "quality_rule", "feature_name": "mean_wlen",
             "column": "text", "metric": "mean_word_len"},
            {"feature_type": "c4_clean", "feature_name": "kept_lines",
             "column": "text_lines", "metric": "n_kept_lines"},
            {"feature_type": "c4_clean", "feature_name": "keep_doc",
             "column": "text_lines", "metric": "keep_doc"},
            {"feature_type": "pii_scrub", "feature_name": "emails_found",
             "column": "text_pii", "metric": "n_email"},
            {"feature_type": "pii_scrub", "feature_name": "clean_pii_text",
             "column": "text_pii", "metric": "scrubbed_text"},
            {"feature_type": "lang_id_trigram", "feature_name": "lang_pred",
             "id_column": "doc_id", "column": "text"},
            {"feature_type": "derive", "feature_name": "curated",
             "expression": "keep_doc AND n_tokens >= 40 AND stop_hits >= 1"},
            {"feature_type": "filter", "feature_name": "curated_only",
             "predicate": "curated"},
        ]
    }
    out = compile_pipeline(config, docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "stop_hits",
        F.round("mean_wlen", 6).alias("mean_wlen"),
        "kept_lines",
        F.col("keep_doc").cast("int").alias("keep_doc"),
        "emails_found",
        "clean_pii_text",
        "lang_pred",
    )


def q_c4_line_filter(spark, sf_dir):
    """C4-style boilerplate line cleaning (Raffel et al. 2020): keep
    lines with >= 3 words, terminal punctuation, and no blocklist
    phrase; the document survives only if >= 3 lines remain. The
    synthetic docs are single-line word soup, so the query derives
    deterministic lines (a '.' + newline every 8th word, same regex in
    both engines) and appends three crafted lines — one without
    terminal punctuation (always dropped), a 'lorem ipsum' line on
    every 7th doc (blocklist), and a two-word line (min-words) — so
    every rule fires somewhere in the data."""
    from featuregenerator_spark.operators.text_clean import with_c4_clean

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1.\n"),
            F.lit("\nthis line has no terminal punctuation"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\nlorem ipsum dolor sit amet."),
            ).otherwise(F.lit("")),
            F.lit("\nshort line."),
        ).alias("text"),
    )
    out = with_c4_clean(docs)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_dropped_lines",
        "clean_text",
        F.col("keep_doc").cast("int").alias("keep_doc"),
    )


def q_text_normalize(spark, sf_dir):
    """Text canonicalization before hashing/dedup: lowercase, strip
    control chars, collapse whitespace runs, trim — every exact-dup
    pass is only as good as its normalization. The synthetic docs are
    already clean, so the query plants deterministic mess (tabs,
    control chars, double spaces, stray case) from doc_id — identical
    concat in the oracle — making every counter exact. Pure Column
    regexes, lookaround-free so Java and RE2 agree."""
    from featuregenerator_spark.operators.text_clean import (
        normalize_text_columns,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("  MIXED Case\t"),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\u0007\u0001"))
            .otherwise(F.lit("")),
            F.lit("  trailing   runs "),
        ).alias("text"),
    )
    cols = normalize_text_columns(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_ctrl_removed"].alias("n_ctrl_removed"),
        cols["n_ws_collapsed"].alias("n_ws_collapsed"),
        cols["changed"].alias("changed"),
        cols["norm_text"].alias("norm_text"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing over documents: count + replace emails, IPv4
    addresses, and phone numbers with typed placeholders (fixed
    email -> ip -> phone order so earlier rewrites cannot feed later
    patterns). The synthetic docs carry no PII, so the query plants one
    of each deterministically from doc_id — identical concat in the
    DuckDB oracle — making every count and the rewritten text exact."""
    from featuregenerator_spark.operators.text_clean import with_pii_scrub

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org or +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.7 done"),
        ).alias("text"),
    )
    out = with_pii_scrub(docs)
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone", "scrubbed_text"
    )


def q_multimodal_png(spark, sf_dir):
    """SECOND real compressed codec end-to-end: deterministic RGB images
    as PNG payloads (pure-numpy scanline filtering + stdlib-zlib DEFLATE,
    CRC-checked chunk framing) decoded back inside mapInPandas. The
    synth cycles scanline filters (y % 5) so one query exercises every
    unfilter branch (None/Sub/Up/Average/Paeth); PNG is lossless, so the
    oracle is the SAME closed form as the uncompressed BMP query."""
    from featuregenerator_spark.operators.multimodal import (
        decode_png_assets,
        synth_png_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    feats = decode_png_assets(synth_png_assets(docs))
    return feats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_quality_gopher_rules(spark, sf_dir):
    """Gopher-style quality rule battery (Rae et al. 2021, Appendix A)
    over the documents table: word/line counts, mean word length,
    symbol-to-word ratio, alpha-word fraction, required-stopword hits,
    duplicate-line fraction + duplicate-line CHARACTER fraction,
    bullet-start / ellipsis-end line fractions, and the composite pass
    flag at the published thresholds. All pure Column exprs (whole-stage
    codegen; the line-repetition lambda captures the outer array exactly
    like the DuckDB oracle's list_filter). The synthetic docs carry no
    newlines, so the query first derives deterministic pseudo-lines
    (newline every 8th word) with the same regex in both engines —
    making every line metric non-trivial."""
    from featuregenerator_spark.operators.quality_rules import with_quality_rules

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n").alias("text"),
    )
    out = with_quality_rules(docs)
    return out.select(
        "doc_id",
        "n_words",
        "n_lines",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.col("passes_gopher").cast("int").alias("passes_gopher"),
    )


def q_quality_top_ngram(spark, sf_dir):
    """Top word-n-gram character fraction (the Gopher repetition rule
    family's n-gram half) for n = 2 and 3, RELATIONAL form: explode
    n-grams -> map-side partial count on (doc, gram) -> window max with
    a deterministic gram tie-break. Unlike the per-row HOF rules this
    shape scales to unbounded repetition structure per document."""
    from featuregenerator_spark.operators.quality_rules import (
        top_ngram_char_fraction,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t2 = top_ngram_char_fraction(docs, 2)
    t3 = top_ngram_char_fraction(docs, 3)
    return (
        t2.join(t3, "doc_id")
        .select(
            "doc_id",
            "top_2gram",
            "top_2gram_count",
            F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
            "top_3gram",
            "top_3gram_count",
            F.round("top_3gram_char_frac", 6).alias("top_3gram_char_frac"),
        )
    )


def q_multimodal_wav(spark, sf_dir):
    """REAL audio codec end-to-end: deterministic 16-bit PCM WAV payloads
    (stdlib wave writer) decoded back by the stdlib wave reader inside
    mapInPandas — header fields + sample RMS, all oracle-checked in
    closed form (square wave -> rms == amplitude exactly)."""
    from featuregenerator_spark.operators.multimodal import (
        decode_wav_assets,
        synth_wav_assets,
    )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("asset_id"))
    feats = decode_wav_assets(synth_wav_assets(docs))
    return feats.select(
        "asset_id",
        "n_channels",
        "sample_rate",
        "n_frames",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
    )


def q_audio_spectral(spark, sf_dir):
    """Audio ANALYSIS beyond container decode: batched-FFT dominant
    frequency, zero-crossing count, and RMS over deterministic
    square-tone WAV payloads (stdlib wave + one numpy rfft matrix op per
    Arrow batch). Every feature has a closed form (exact periodicity:
    rms == amp, zcr == n/p - 1, fundamental bin n/(2p) dominates by
    >= 2.4x), so the DuckDB oracle checks real DSP output exactly."""
    from featuregenerator_spark.operators.multimodal import (
        audio_spectral_features,
        synth_tone_wav_assets,
    )

    # repartition before the synth/FFT mapInPandas: a single-file scan
    # is one partition, which would serialize the DSP on one core
    docs = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    feats = audio_spectral_features(synth_tone_wav_assets(docs))
    return feats.select(
        "asset_id",
        "sample_rate",
        "n_frames",
        "zcr",
        F.round("rms", 6).alias("rms"),
        "dominant_bin",
        F.round("dominant_hz", 6).alias("dominant_hz"),
    )


def _text_source_stage(sf_dir: str, fmt: str) -> str:
    # keyed by the full input path so same-basename corpora and
    # concurrent sessions cannot collide (same scheme as the bucketed
    # staging); rewritten on every call, so never stale
    import hashlib

    sig = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"/tmp/fg_textsource_{sig}/{fmt}"


def q_source_jsonl_roundtrip(spark, sf_dir):
    """Line-delimited JSON as a source format: write the events table as
    JSONL (timestamps as explicit microsecond strings), read it back with
    a DECLARED schema (no inference pass — at 100 TB inference is a full
    extra scan), and return every row. The DuckDB oracle reads the
    original parquet, so the gate proves full-fidelity text roundtrip of
    long/double/string/timestamp columns."""
    from featuregenerator_spark.sources.textfiles import (
        read_events_jsonl,
        write_events_jsonl,
    )

    path = _text_source_stage(sf_dir, "jsonl")
    write_events_jsonl(_events(spark, sf_dir), path)
    return read_events_jsonl(spark, path).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_source_csv_roundtrip(spark, sf_dir):
    """CSV as a source format, RFC 4180 quoting: the events props column
    contains embedded double quotes, so this exercises the quote-doubling
    write/read agreement (Spark's default backslash escape would corrupt
    those fields). Declared schema, no inference. Oracle reads the
    original parquet — the gate proves the text roundtrip is lossless."""
    from featuregenerator_spark.sources.textfiles import (
        read_events_csv,
        write_events_csv,
    )

    path = _text_source_stage(sf_dir, "csv")
    write_events_csv(_events(spark, sf_dir), path)
    return read_events_csv(spark, path).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_source_orc_roundtrip(spark, sf_dir):
    """ORC as a source format: write the events table as ZSTD ORC with
    bloom-filter indexes on the point-lookup keys, read it back with a
    DECLARED schema (footer schemas are not trusted across daily drops),
    and return every row. Timestamps stay native TIMESTAMP_NTZ — no text
    boundary. The DuckDB oracle reads the original parquet, so the gate
    proves the columnar roundtrip is lossless."""
    from featuregenerator_spark.sources.columnar import (
        read_events_orc,
        write_events_orc,
    )

    path = _text_source_stage(sf_dir, "orc")
    write_events_orc(_events(spark, sf_dir), path)
    return read_events_orc(spark, path).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_compact_roundtrip(spark, sf_dir):
    """Small-file compaction: write the events table deliberately
    fragmented (24-way repartition x one dir per ds day), rewrite it via
    AQE REBALANCE(ds) (`sources/compaction.py` — coalesces small
    partitions toward the advisory size, splits hot days, no
    per-partition driver loop), and return every row of the compacted
    table. The DuckDB oracle reads the ORIGINAL parquet, so the gate
    proves the fragment -> compact rewrite is value-lossless including
    the derived ds partition column."""
    from featuregenerator_spark.sources.compaction import compact_table

    base = _text_source_stage(sf_dir, "compact")
    ev = _events(spark, sf_dir).withColumn(
        "ds", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.repartition(24).write.mode("overwrite").partitionBy("ds").parquet(
        base + "/frag"
    )
    back = compact_table(spark, base + "/frag", base + "/out")
    return back.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
        F.col("ds").cast("string").alias("ds"),
    )


def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout key over (user_id, epoch(ts)): one tiny
    min/max stats action, then a pure-codegen bit-interleave expression
    (`sources/zorder.py`). Spark evaluates the expression with collected
    stat literals; the DuckDB oracle computes its own min/max over the
    identical data and evaluates the SAME expression text generated by
    the same Python loop — the gate proves the Morton math itself."""
    from featuregenerator_spark.sources.zorder import zorder_key_column

    ev = _events(spark, sf_dir)
    b = F.col("ts").cast("timestamp")
    row = ev.agg(
        F.min(F.col("user_id").cast("double")),
        F.max(F.col("user_id").cast("double")),
        F.min(b.cast("double")),
        F.max(b.cast("double")),
    ).collect()[0]
    z = zorder_key_column(F.col("user_id"), b, tuple(row), bits=16)
    return ev.select("event_id", z.alias("zkey"))


def q_snapshot_isolation_read(spark, sf_dir):
    """Snapshot-table commit protocol (sources/snapshots.py — Iceberg's
    atomic metadata-pointer CAS over parquet): three commits (append
    even event_ids, append odd, OVERWRITE with purchases only), then
    TIME-TRAVEL reads of v2 (the full append union) and v3 (the
    overwrite). The DuckDB oracle recomputes both versions' content
    straight from events, so the gate proves commits are atomic
    set-transitions: v2 == all rows, v3 == exactly the purchase rows,
    and the overwrite did not damage v2. Concurrency/crash legs
    (CAS-race rebase, orphan invisibility) are pinned in
    tests/test_snapshots.py."""
    import shutil

    from featuregenerator_spark.sources.snapshots import SnapshotTable

    base = _text_source_stage(sf_dir, "snaptable")
    shutil.rmtree(base, ignore_errors=True)
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    t = SnapshotTable(spark, base)
    t.commit_append(ev.filter(F.col("event_id") % 2 == 0))
    t.commit_append(ev.filter(F.col("event_id") % 2 == 1))
    t.commit_overwrite(ev.filter(F.col("event_type") == "purchase"))
    v2 = t.read(2).select(
        F.lit(2).alias("version"), "event_id", "event_type", "value"
    )
    v3 = t.read(3).select(
        F.lit(3).alias("version"), "event_id", "event_type", "value"
    )
    return v2.unionByName(v3)


def _snapshot_thirds(spark, sf_dir, tag):
    """Stage events into a SnapshotTable as three appends with DISJOINT
    event_id ranges (thirds of max), stats on event_id — so manifest
    stats can PROVE file-level pruning. Returns (table, t1, t2)."""
    import shutil

    from featuregenerator_spark.sources.snapshots import SnapshotTable

    base = _text_source_stage(sf_dir, tag)
    shutil.rmtree(base, ignore_errors=True)
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    t1, t2 = mx // 3, 2 * (mx // 3)
    t = SnapshotTable(spark, base, stats_cols=["event_id"])
    t.commit_append(ev.filter(F.col("event_id") <= t1))
    t.commit_append(
        ev.filter((F.col("event_id") > t1) & (F.col("event_id") <= t2))
    )
    t.commit_append(ev.filter(F.col("event_id") > t2))
    return t, t1, t2


def q_snapshot_pruned_read(spark, sf_dir):
    """Manifest-stats FILE SKIPPING (sources/snapshots.py — Iceberg's
    lower/upper_bounds pruning): events staged as three appends with
    disjoint event_id thirds, then a range read that stats alone can
    narrow to ONE file. The query HARD-FAILS unless the planner
    actually pruned the other two files (so the driver row certifies
    the skipping mechanism, not just row fidelity); the DuckDB oracle
    applies the same range straight to events, proving the pruned read
    is exact. Residual-filter exactness and never-prune-without-stats
    are pinned in tests/test_snapshots.py."""
    t, t1, t2 = _snapshot_thirds(spark, sf_dir, "snapprune")
    where = [("event_id", "between", t1 + 1, t2)]
    kept, pruned = t.plan_scan(where)
    if len(kept) != 1 or len(pruned) != 2:
        raise RuntimeError(
            f"file skipping failed: kept {len(kept)}, pruned {len(pruned)}"
        )
    return t.read(where=where).select("event_id", "event_type", "value")


def q_snapshot_cow_upsert_delete(spark, sf_dir):
    """Copy-on-write MERGE + DELETE on a snapshot table: upsert doubled
    purchase rows (same event_id, event_type 'purchase_v2') plus
    shifted 'inserted' view rows, then DELETE the low-id sixth — each a
    single atomic commit that rewrites ONLY the affected files
    (stats-pruned + input_file_name-located) and carries the rest by
    reference. The DuckDB oracle recomputes MERGE-then-DELETE
    relationally from events, so the gate proves full row-level
    semantics: replaced keys, inserted keys, survivors, and deletion.
    File-minimality, OCC rebase/conflict, and retention legs are pinned
    in tests/test_snapshots.py."""
    t, t1, t2 = _snapshot_thirds(spark, sf_dir, "snapcow")
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    src = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.lit("purchase_v2").alias("event_type"),
        (F.col("value") * 2).alias("value"),
    ).unionByName(
        ev.filter(F.col("event_type") == "view").select(
            (F.col("event_id") + 10000000).alias("event_id"),
            F.lit("inserted").alias("event_type"),
            "value",
        )
    )
    t.commit_merge(src, on=["event_id"])
    t.commit_delete_where([("event_id", "<=", t1 // 2)])
    return t.read().select("event_id", "event_type", "value")


def q_snapshot_incremental_read(spark, sf_dir):
    """Incremental append scan (sources/snapshots.py::read_incremental —
    Iceberg's changelog-style consumption): events staged as three
    append commits (event_id thirds), then a read of ONLY what was
    appended AFTER version 1 — the file-set diff of the manifests, so a
    downstream consumer touches exactly the new data dirs, never the
    base. The DuckDB oracle recomputes the same row set straight from
    events (event_id > max//3), proving the diff equals the logical
    append set. Non-append ranges refuse (pinned in
    tests/test_snapshots.py)."""
    t, t1, t2 = _snapshot_thirds(spark, sf_dir, "snapincr")
    return t.read_incremental(1).select("event_id", "event_type", "value")


def q_snapshot_rewrite_zorder(spark, sf_dir):
    """rewriteDataFiles maintenance (sources/snapshots.py::
    rewrite_clustered) with a Z-ORDER key: events land hash-scattered
    (12 files, each spanning ~the full key space — a box predicate can
    prune nothing), then ONE overwrite commit re-clusters them by the
    Morton key over (user_id, event_id) into 12 range files with
    per-file manifest stats. The query HARD-FAILS unless (a) the
    scattered layout pruned 0 files and (b) the re-clustered layout
    prunes >= 7 of 12 for the same low-eighth box — so the driver row
    certifies the layout-maintenance => file-skipping mechanism. The
    DuckDB oracle applies the same box straight to events (thresholds
    recomputed from min/max in SQL), proving the pruned read is exact.
    Content identity + time travel to the pre-rewrite layout are pinned
    in tests/test_snapshots.py."""
    import shutil

    from featuregenerator_spark.sources.snapshots import SnapshotTable
    from featuregenerator_spark.sources.zorder import zorder_key_columns

    base = _text_source_stage(sf_dir, "snapzorder")
    shutil.rmtree(base, ignore_errors=True)
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("user_id"), F.max("user_id"),
        F.min("event_id"), F.max("event_id"),
    ).collect()[0]
    umn, umx, emn, emx = row
    t = SnapshotTable(spark, base, stats_cols=["user_id", "event_id"])
    t.commit_append(ev.repartition(12, "event_id"))
    where = [
        ("user_id", "between", umn, umn + (umx - umn) // 8),
        ("event_id", "between", emn, emn + (emx - emn) // 8),
    ]
    _, pruned0 = t.plan_files(where)
    if pruned0:
        raise RuntimeError(f"hash layout unexpectedly pruned {pruned0}")
    z = zorder_key_columns(
        [F.col("user_id"), F.col("event_id")],
        [(float(umn), float(umx)), (float(emn), float(emx))],
        bits=16,
    )
    t.rewrite_clustered(z, n_files=12)
    kept1, pruned1 = t.plan_files(where)
    if len(pruned1) < 7:
        raise RuntimeError(
            f"z-order rewrite should prune most files: kept {len(kept1)}, "
            f"pruned {len(pruned1)}"
        )
    return t.read(where=where)


def q_zorder_key3(spark, sf_dir):
    """THREE-key Morton layout key over (user_id, epoch(ts), value):
    the reference file-skipping use-case is point lookups on
    (user, item, ts) — three keys — so the bit-interleave generalizes
    to n keys (sources/zorder.py, n_keys*bits <= 63 budget). Both
    engines evaluate the SAME generated n-ary interleave expression
    (one Python loop emits both dialects); the oracle computes its own
    min/max over the identical data — the gate proves the n-key Morton
    math itself, not just row fidelity."""
    from featuregenerator_spark.sources.zorder import zorder_key_columns

    ev = _events(spark, sf_dir)
    t = F.col("ts").cast("timestamp")
    u = F.col("user_id")
    v = F.col("value")
    row = ev.agg(
        F.min(u.cast("double")), F.max(u.cast("double")),
        F.min(t.cast("double")), F.max(t.cast("double")),
        F.min(v.cast("double")), F.max(v.cast("double")),
    ).collect()[0]
    stats = [(row[0], row[1]), (row[2], row[3]), (row[4], row[5])]
    z = zorder_key_columns([u, t, v], stats, bits=16)
    return ev.select("event_id", z.alias("zkey3"))


def q_source_jsonl_corrupt_audit(spark, sf_dir):
    """PERMISSIVE ingest with corrupt-record quarantine: write the
    events table as JSONL, inject a deterministic garbage part file
    (non-JSON, truncated JSON, and a type-mismatch row that still
    parses its other fields), read back audited, and return the GOOD
    rows. The oracle reads the original parquet — the gate proves the
    quarantine removes exactly the injected lines and nothing else
    (no phantom all-null rows, no dropped good rows). Quarantine
    content itself is pinned in tests/test_textfiles.py."""
    from featuregenerator_spark.sources.textfiles import (
        read_events_jsonl_audited,
        write_events_jsonl,
    )

    path = _text_source_stage(sf_dir, "jsonl_audit")
    write_events_jsonl(_events(spark, sf_dir), path)
    with open(os.path.join(path, "part-99999-garbage.json"), "w") as f:
        f.write("definitely not json\n")
        f.write('{"event_id": 1\n')
        f.write(
            '{"event_id": "not-a-long", "ts_str": "2024-01-01 '
            '00:00:00.000000", "user_id": 1, "event_type": "view", '
            '"value": 1.0, "props": "x"}\n'
        )
    good, _quarantined = read_events_jsonl_audited(spark, path)
    return good.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_schema_evolution_read(spark, sf_dir):
    """Additive schema evolution across daily drops: days before
    2024-02-01 are staged WITHOUT the props column (the pre-evolution
    files), later days with it; one declared superset schema reads both
    directories — old files yield null props, vectorized, with no
    mergeSchema footer-union pre-pass. The oracle expresses the same
    contract as a CASE on the original table, so the gate proves
    missing-column nulls land on exactly the pre-cutoff rows."""
    from featuregenerator_spark.sources.columnar import read_evolved

    base = _text_source_stage(sf_dir, "evolve")
    ev = _events(spark, sf_dir)
    cutoff = "2024-02-01"
    cond = F.date_format("ts", "yyyy-MM-dd") < cutoff
    ev.filter(cond).drop("props").write.mode("overwrite").parquet(
        base + "/old"
    )
    ev.filter(~cond).write.mode("overwrite").parquet(base + "/new")
    ddl = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    return read_evolved(spark, ddl, base + "/old", base + "/new").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_source_csv_corrupt_audit(spark, sf_dir):
    """The CSV twin of the JSONL corrupt audit: write events as RFC 4180
    CSV, inject a garbage part file (wrong column count, type-mismatch
    event_id, unparseable double), read back audited (text + from_csv;
    per-part header lines filtered by DDL-derived exact text), return
    the GOOD rows. Oracle reads the original parquet — the gate proves
    headers and garbage are removed and every real row survives."""
    from featuregenerator_spark.sources.textfiles import (
        read_events_csv_audited,
        write_events_csv,
    )

    path = _text_source_stage(sf_dir, "csv_audit")
    write_events_csv(_events(spark, sf_dir), path)
    with open(os.path.join(path, "part-99999-garbage.csv"), "w") as f:
        f.write("not,enough,cols\n")
        f.write('xx,2024-01-01 00:00:00.000000,1,view,1.0,"p"\n')
        f.write('77,2024-01-01 00:00:00.000000,1,view,notadouble,"p"\n')
    good, _quarantined = read_events_csv_audited(spark, path)
    return good.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_embedding_covariance(spark, sf_dir):
    """Distributed PCA, stage 1: the full 64x64 population covariance of
    the embedding table via ONE mapInPandas Gram pass (each Arrow batch
    ships d*d+d+1 floats — no per-row Python, no d^2 codegen select, no
    explode amplification; `operators/pca.py`). The DuckDB oracle
    recomputes every entry as covar_pop(e[i], e[j]) over an i x j range
    cross join — the gate proves all 4096 entries to 6 decimals."""
    from featuregenerator_spark.operators.pca import covariance

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cov, _mu = covariance(emb, "embedding", 64)
    rows = [
        (i + 1, j + 1, round(float(cov[i, j]), 6))
        for i in range(64)
        for j in range(64)
    ]
    return spark.createDataFrame(rows, "i int, j int, cov double")


def q_ann_pca_top10(spark, sf_dir):
    """PCA-reduced ANN: fit k=32 components (one Gram pass), project the
    table AND the query (broadcast matmul per Arrow batch), shortlist
    the top-100 candidates by cosine in 32-dim space (2x fewer flops
    and bytes per comparison than d=64), then re-rank the shortlist
    EXACTLY on the original vectors. k is sized to the table's
    spectrum: these synthetic embeddings are near-isotropic (top-16
    dims carry only ~38% of the energy and rank the true 4th neighbor
    67th; top-32 carries ~65% and ranks it 9th — measured at sf0.001),
    whereas real text embeddings concentrate energy much faster and
    tolerate far smaller k. Approximate by design (the shortlist can
    miss) -> rows-only; recall vs the brute-force top-10 is pinned in
    tests/test_pca.py, and at the tested SFs the output is identical
    to brute force."""
    from featuregenerator_spark.operators.pca import pca_fit, pca_project

    import numpy as np

    emb = _read(spark, sf_dir, "embeddings")
    mu, comps, _ev = pca_fit(emb, "embedding", 64, 32)
    # fit centered (components capture variance), project UNCENTERED:
    # cosine against the raw query lives in the raw space, and centering
    # reorders cosine neighborhoods (measured: the true rank-4 neighbor
    # fell out of a 50-candidate centered shortlist at sf0.001). An
    # orthonormal uncentered projection approximates the raw cosine
    # directly, with error bounded by the energy outside the subspace.
    proj = pca_project(emb, "embedding", np.zeros_like(mu), comps, out="p")
    qv = proj.filter(F.col("vec_id") == 0).select(
        F.col("p").alias("qp"), F.col("embedding").alias("qe")
    )
    joined = proj.crossJoin(F.broadcast(qv))
    dotp = F.aggregate(
        F.zip_with("p", "qp", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    shortlist = (
        joined.select("vec_id", "embedding", "qe", (dotp / (norm(F.col("p")) * norm(F.col("qp")))).alias("capprox"))
        .orderBy(F.col("capprox").desc(), "vec_id")
        .limit(100)
    )
    dote = F.aggregate(
        F.zip_with(
            "embedding", "qe", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dote / (norm(F.col("embedding")) * norm(F.col("qe")))
    return (
        shortlist.select("vec_id", cos.alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("c", 3).alias("cos_sim"))
    )


def q_config_compiled(spark, sf_dir):
    """The declarative surface end-to-end: JSON FeatureConfig -> compiled
    single select() (id + raw-bucketize + combo in one Catalyst plan)."""
    from featuregenerator_spark.spec import compile_config

    ev = _events(spark, sf_dir)
    cfg = {
        "features": [
            {"feature_type": "id_feature", "feature_name": "et",
             "expression": "event_type"},
            {"feature_type": "raw_feature", "feature_name": "vb",
             "expression": "value", "bucketize_boundaries": [10.0, 50.0, 100.0]},
            {"feature_type": "combo_feature", "feature_name": "cb",
             "expressions": ["event_type", "user_id"]},
        ]
    }
    out = compile_config(cfg, ev)
    return out.select("event_id", "et", F.col("vb").cast("long").alias("vb"), "cb")


def q_config_compiled_temporal(spark, sf_dir):
    """The "declared, not programmed" contract extended to the pipeline
    lifts (spec.compile_pipeline): one JSON document declares ts-seconds,
    a gap feature, a rolling count, a rolling sum, sessionization, and
    derive expressions, applied in declaration order. The DuckDB oracle
    is the four standard window queries' SQL texts composed verbatim as
    CTEs, so the gate proves config-compiled == hand-built."""
    from featuregenerator_spark.spec import compile_pipeline

    cfg = {
        "defaults": {
            "partition_by": "user_id",
            "order_by": ["ts", "event_id"],
            "ts_seconds_column": "ts_sec",
        },
        "features": [
            {"feature_type": "ts_seconds", "feature_name": "ts_sec",
             "ts_column": "ts"},
            {"feature_type": "gap_feature", "feature_name": "gap_seconds",
             "bucketize": False},
            {"feature_type": "rolling_count", "feature_name": "prior_cnt_1h",
             "window_seconds": 3600},
            {"feature_type": "rolling_agg", "feature_name": "s",
             "window_seconds": 86400, "expression": "value", "agg": "sum"},
            {"feature_type": "sessionize", "feature_name": "session_id",
             "gap_seconds": 1800},
            {"feature_type": "derive", "feature_name": "gap_seconds",
             "expression": "round(gap_seconds, 6)"},
            {"feature_type": "derive", "feature_name": "sum_value_24h",
             "expression": "round(s, 4)"},
        ],
    }
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = compile_pipeline(cfg, ev)
    return out.select(
        "event_id", "gap_seconds", "prior_cnt_1h", "sum_value_24h",
        "session_idx",
    )


def q_raw_multivalue_pad(spark, sf_dir):
    """raw_feature on a multi-value input: per-word lengths of p_name,
    cleaned and padded to value_dimension=4 (RawFeatureFunction pad)."""
    from featuregenerator_spark.operators.raw_feature import raw_feature_multi

    part = _read(spark, sf_dir, "part")
    lens = F.transform(F.split(F.col("p_name"), " "), lambda w: F.length(w).cast("double"))
    out = raw_feature_multi(lens, value_dimension=4)
    return part.select("p_partkey", F.to_json(out).alias("len_vec"))


def q_lookup_combo_counts(spark, sf_dir):
    """needCombo kernel: two windowed history counts concatenated
    cnt1_cnt2 (Impl.h:155-212); history arrays built from part columns so
    the oracle is closed-form."""
    from featuregenerator_spark.operators.lookup_array import lookup_combo_counts

    part = _read(spark, sf_dir, "part")
    pv = F.lit(10000.0)
    out = lookup_combo_counts(
        map_keys=F.array(F.lit("a"), F.lit("a")),
        map_values=F.array(F.lit(1.0), F.lit(1.0)),
        value_ts=F.array(pv - 10.0, pv - F.col("p_size").cast("double") * 100.0),
        map2_keys=F.array(F.lit("a")),
        map2_values=F.array(F.lit(1.0)),
        value2_ts=F.array(pv - 100.0),
        pvtime=pv,
        keys=F.array(F.lit("a")),
        timediff=3600.0,
        feature_name="pc",
    )
    return part.select("p_partkey", out.alias("combo_key"))


def q_lookup_combo_simple(spark, sf_dir):
    """needCombo+comboSimple kernel: ONE windowed history count crossed
    with each `other` value (Impl.h:213-267); an empty window is a NULL
    feature (the reference's lookupPairList.empty() error return,
    Impl.h:227-232). History built from part columns: pair ts are
    pv-200*p_size and pv-400*p_size, so with timediff=3600 the count is
    2 for p_size<=9, 1 for p_size<=18, and NULL above (window empty)."""
    from featuregenerator_spark.operators.lookup_array import lookup_combo_simple

    part = _read(spark, sf_dir, "part")
    pv = F.lit(10000.0)
    size = F.col("p_size").cast("double")
    out = lookup_combo_simple(
        map_keys=F.array(F.lit("a"), F.lit("a")),
        map_values=F.array(F.lit(1.0), F.lit(1.0)),
        value_ts=F.array(pv - size * 200.0, pv - size * 400.0),
        pvtime=pv,
        keys=F.array(F.lit("a")),
        other=F.array(F.lit("x"), F.col("p_brand")),
        timediff=3600.0,
        feature_name="cs",
    )
    return part.select("p_partkey", F.to_json(out).alias("combo_keys"))


def q_preclick_match_words(spark, sf_dir):
    """preclick need_match mode with key output: top-20 doc words hit
    against the match set, prefixed."""
    from featuregenerator_spark.operators.preclick_urb import match_words

    docs = _docs(spark, sf_dir)
    out = match_words(
        F.array(F.col("text")),
        F.array(F.lit("table join row the value")),
        "pm",
        delim_item=" ",
    )
    return docs.select("doc_id", F.to_json(out).alias("hit_keys"))


def q_match_cross(spark, sf_dir):
    """match_feature cross: user keys of the category x item value."""
    from featuregenerator_spark.operators.match_feature import (
        match_cross,
        parse_user_info,
    )

    cust = _read(spark, sf_dir, "customer")
    m = parse_user_info(F.lit("seg^x:1,y:2"))
    out = match_cross(m, F.lit("seg"), F.col("c_mktsegment"), "mc")
    return cust.select("c_custkey", F.to_json(out).alias("cross_keys"))


def q_lookup_v1_weighting(spark, sf_dir):
    """lookup_feature needWeighting: (key, weight) pair outputs, projected
    to parallel arrays for oracle comparison."""
    from featuregenerator_spark.operators.lookup_feature import lookup_v1_weighting

    part = _read(spark, sf_dir, "part")
    kv = F.array(
        F.concat(F.lit("size:"), F.col("p_size").cast("string")),
        F.concat(F.lit("brand:"), F.col("p_brand")),
    )
    out = lookup_v1_weighting(kv, F.array(F.lit("size"), F.lit("nope")), "lw")
    return part.select(
        "p_partkey",
        F.to_json(F.transform(out, lambda s: s["key"])).alias("w_keys"),
        F.to_json(F.transform(out, lambda s: s["weight"])).alias("w_vals"),
    )


def q_normalizer_log10(spark, sf_dir):
    from featuregenerator_spark.functions.normalizers import parse_normalizer
    from featuregenerator_spark.operators.raw_feature import raw_feature_scalar

    orders = _read(spark, sf_dir, "orders")
    n = parse_normalizer("method=log10,threshold=100.0,default=-1.0")
    out = raw_feature_scalar(F.col("o_totalprice"), n)
    return orders.select("o_orderkey", F.round(out, 6).alias("log_price"))


def q_normalizer_minmax(spark, sf_dir):
    from featuregenerator_spark.functions.normalizers import parse_normalizer
    from featuregenerator_spark.operators.raw_feature import raw_feature_scalar

    li = _read(spark, sf_dir, "lineitem")
    n = parse_normalizer("method=minmax,min=1.0,max=50.0")
    out = raw_feature_scalar(F.col("l_quantity"), n)
    return li.select(
        "l_orderkey", "l_linenumber", F.round(out, 6).alias("qty_mm")
    )


def q_overlap_divided(spark, sf_dir):
    """overlap sparse *_divided variants: participating tokens joined by
    '_' as one feature key."""
    from featuregenerator_spark.operators.overlap_feature import overlap_feature_sparse

    docs = _docs(spark, sf_dir)
    qtok = F.array(F.lit("spark"), F.lit("join"), F.lit("scan"), F.lit("window"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        overlap_feature_sparse(qtok, toks, "common_word_divided", "ov").alias(
            "common_key"
        ),
        overlap_feature_sparse(qtok, toks, "diff_word_divided", "dv").alias(
            "diff_key"
        ),
    )


def q_kgb_grouped_bytes(spark, sf_dir):
    """kgb as_bytes mode: per-class matched-term concatenation joined by
    ';' (class 0 matches iff p_size even; class 1 always matches)."""
    from featuregenerator_spark.operators.kgb_match import kgb_match_bytes

    part = _read(spark, sf_dir, "part")
    sz = F.col("p_size").cast("long")
    q = F.array(
        sz,                                    # class 0 term, value p_size
        F.lit(1 << 56) + F.pmod(sz, F.lit(7)),  # class 1 term
    )
    items = F.when(
        F.pmod(sz, F.lit(2)) == 0,
        F.array(sz, F.lit(1 << 32) + F.pmod(sz, F.lit(7))),
    ).otherwise(F.array(F.lit(1 << 32) + F.pmod(sz, F.lit(7))))
    out = kgb_match_bytes(q, items, "kb", match=True)
    return part.select("p_partkey", out.alias("grouped"))


def q_kgb_hit_ret(spark, sf_dir):
    """kgb need_hit_ret: brand-class 3-state code comboed with other ids
    (brand matches iff p_size < 25)."""
    from featuregenerator_spark.operators.kgb_match import kgb_hit_ret

    part = _read(spark, sf_dir, "part")
    sz = F.col("p_size").cast("long")
    brand_q = F.array(F.lit(3 << 56) + F.pmod(sz, F.lit(10)))
    items = F.when(
        sz < 25, F.array(F.lit(3 << 32) + F.pmod(sz, F.lit(10)))
    ).otherwise(F.array(F.lit(3 << 32) + F.pmod(sz, F.lit(10)) + 100))
    out = kgb_hit_ret(
        brand_q, items, "kr", other_ids=F.array(F.lit("x"), F.col("p_brand"))
    )
    return part.select("p_partkey", F.to_json(out).alias("hit_keys"))


def q_lookup_gap_max(spark, sf_dir):
    """gap_max kernel: TimeDiffNormal of time since the OLDEST prior
    same-type event inside the 1d window (Impl.h gap_max init 0)."""
    from featuregenerator_spark.operators.lookup_array import lookup_gap
    from featuregenerator_spark.plans.temporal import history_arrays

    par = spark.sparkContext.defaultParallelism * 2
    ev = _events(spark, sf_dir).repartition(par, "user_id")
    hist = history_arrays(
        ev, "event_type", "value", conv="user_id", order_by=("ts", "event_id"),
        max_history=256,  # lossless: max 11 same-user events per 1d window
    )
    g = lookup_gap(
        F.col("hist_keys"),
        F.col("hist_values"),
        F.col("hist_ts"),
        F.col("ts_sec"),
        F.array(F.col("event_type")),
        86400.0,
        gap="gap_max",
        default_value=0.0,
    )
    return hist.select(
        "event_id", F.try_element_at(g, F.lit(1)).alias("since_oldest_same_type")
    )


def q_normalizer_bound_regular(spark, sf_dir):
    """bound_regular normalizer (Normalizer.h:51-64): clamp into
    [y_max+y_add, y_min], optional ln, then zscore."""
    from featuregenerator_spark.functions.normalizers import parse_normalizer
    from featuregenerator_spark.operators.raw_feature import raw_feature_scalar

    li = _read(spark, sf_dir, "lineitem")
    n = parse_normalizer(
        "method=bound_regular,y_max=5.0,y_add=1.0,y_min=40.0,"
        "log=true,mean=1.0,standard_deviation=2.0"
    )
    out = raw_feature_scalar(F.col("l_quantity"), n)
    return li.select(
        "l_orderkey", "l_linenumber", F.round(out, 6).alias("qty_br")
    )


def q_match_weighting(spark, sf_dir):
    """match_feature hit with needWeighting
    (MatchFunctionImpl.cpp:53-75): key omits the value, weight carries
    it; null when the probed item misses the category map."""
    from featuregenerator_spark.operators.match_feature import (
        match_hit_weighting,
        parse_user_info,
    )

    cust = _read(spark, sf_dir, "customer")
    profile = F.concat(
        F.lit("seg^"), F.col("c_mktsegment"), F.lit(":"),
        F.col("c_nationkey").cast("string"),
    )
    m = parse_user_info(profile)
    hit = match_hit_weighting(m, F.lit("seg"), F.lit("BUILDING"), "mw")
    return cust.select(
        "c_custkey", hit["key"].alias("w_key"), hit["weight"].alias("w_weight")
    )


def q_combo_sorted(spark, sf_dir):
    """combo_feature needSort + pruneRight
    (ComboFeatureFunction.cpp:170-178): last-2 window of p_name words x
    p_brand, sorted de-duped keys."""
    from featuregenerator_spark.operators.combo_feature import combo_feature_multi

    part = _read(spark, sf_dir, "part")
    keys = combo_feature_multi(
        [F.split(F.col("p_name"), " "), F.array(F.col("p_brand"))],
        "cs",
        prune_limits=[2, None],
        prune_right=[True, False],
        need_sort=True,
    )
    return part.select("p_partkey", F.to_json(keys).alias("sorted_keys"))


def q_preclick_decode_kv(spark, sf_dir):
    """preclick need_decode + delim_kv (base64 items of 'k:v' words,
    value part kept — PreclickUrbWordFeatureFunction.h:60-75)."""
    from featuregenerator_spark.operators.preclick_urb import top_words

    docs = _docs(spark, sf_dir)
    items = F.array(
        F.base64(
            F.encode(
                F.concat(
                    F.lit("u:"), F.col("lang"), F.lit(" v:"), F.col("source")
                ),
                "UTF-8",
            )
        )
    )
    tw = top_words(
        items, "pd", delim_item=" ", delim_kv=":", need_decode=True
    )
    return docs.select("doc_id", F.to_json(tw).alias("decoded_keys"))


def q_asof_pandas_parity(spark, sf_dir):
    """The applyInPandas merge_asof form of the as-of join, against the
    same oracle as the union+window form (asof_last_purchase)."""
    from featuregenerator_spark.plans.temporal import asof_join_pandas

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
        .withColumn("pts", F.col("ts").cast("timestamp").cast("double"))
    )
    joined = asof_join_pandas(
        ev.select("event_id", "user_id", "ts_sec"),
        purchases,
        on="user_id",
        left_ts="ts_sec",
        right_ts="pts",
        value_cols=["pv"],
        strict=True,
    )
    return joined.select(
        "event_id", F.round("pv", 4).alias("last_purchase_value")
    )


def q_topk_docs_per_lang(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars", F.col("rn").cast("int").alias("rn"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate: the driver evaluates the FIRST 50 entries in
    # insertion order. Rounds 1-2 green-checked the 50 longest-standing
    # queries (CORRECTNESS_r01/r02); round 3 rotates the 17 queries that
    # had not yet received a driver row — plus this round's new queries —
    # into the window, and moves 17+ queries with existing green rows from
    # r02 to the tail. Every query keeps local oracle coverage via
    # tools/check_oracle.py regardless of position.
    qs = {
        # --- ROUND-5 WINDOW (slots 1-50). Rotation policy: every query
        # --- whose code path changed this round, plus every query that has
        # --- never received a driver row, sits in slots 1-50; displaced
        # --- queries all hold green rows from r01-r04 and keep local gate
        # --- coverage via tools/check_oracle.py.
        # --- Slots 1-13: the round-4 session-7/8 overflow (VERDICT r4 #2)
        # --- that never got a driver row; slot 14: config_compiled re-enters
        # --- because spec.py changes this round. Displaced to tail: 14
        # --- r4-green unchanged queries (see tail block).
        # round-4 overflow, never driver-checked: rotate into slots 1-50
        "config_compiled_chunks": q_config_compiled_chunks,
        "dataset_split_assign": q_dataset_split_assign,
        "sample_stratified_lang": q_sample_stratified_lang,
        "decontaminate_benchmark": q_decontaminate_benchmark,
        "pack_materialize": q_pack_materialize,
        # ORC roundtrip (verbatim-events oracle)
        "source_orc_roundtrip": q_source_orc_roundtrip,
        # AQE-REBALANCE small-file compaction, value-lossless vs original
        "compact_roundtrip": q_compact_roundtrip,
        # Morton layout key, same interleave expr on both engines
        "zorder_key": q_zorder_key,
        # quarantine-don't-fail JSONL ingest
        "source_jsonl_corrupt_audit": q_source_jsonl_corrupt_audit,
        # additive schema evolution under superset schema
        "schema_evolution_read": q_schema_evolution_read,
        # RFC 4180 corrupt-record quarantine
        "source_csv_corrupt_audit": q_source_csv_corrupt_audit,
        # distributed-PCA Gram pass, all 64x64 entries oracle-checked
        "embedding_covariance": q_embedding_covariance,
        # rows-only BY DESIGN (PCA shortlist recall-pinned in tests/test_pca.py)
        "ann_pca_top10": q_ann_pca_top10,
        # re-enters: spec.py parse_config gains the chunk-amplifier guard in r5
        "config_compiled": q_config_compiled,
        # --- r4-window queries kept in-window (green r4 rows; several are
        # --- changed-in-r5 or rows-only and must stay: quality_model_score
        # --- fixed r5, simhash/image-phash caps land r5, config_compiled_*
        # --- re-check with the spec.py guard, interval_session_assign with
        # --- the interval.py dedup-contract change) ---
        "config_compiled_mix": q_config_compiled_mix,
        "semdedup_prune": q_semdedup_prune,
        "interval_session_assign": q_interval_session_assign,
        "image_phash_neardup": q_image_phash_neardup,
        # simhash_neardup re-enters (hot-bucket cap lands in r5);
        # displaces streaming_decayed_parity (r4-green, unchanged)
        "simhash_neardup": q_simhash_neardup,
        "dedup_connected_components": q_dedup_connected_components,
        "dedup_cc_lsh": q_dedup_cc_lsh,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "ann_ivf_top10": q_ann_ivf_top10,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_lsh": q_dedup_incremental_lsh,
        "dedup_cc_incremental": q_dedup_cc_incremental,
        "dedup_cc_incremental_lsh": q_dedup_cc_incremental_lsh,
        "config_compiled_temporal": q_config_compiled_temporal,
        # new in r5: write-side legacy codecs (encode -> decode == id);
        # displaces multimodal_jpeg_color_decode (r4-green, unchanged)
        "legacy_encode_roundtrip": q_legacy_encode_roundtrip,
        # new in r5: 3-key Morton interleave; displaces
        # multimodal_png_decode (r4-green, png.py unchanged this round)
        "zorder_key3": q_zorder_key3,
        # new in r5: snapshot-table commit protocol + time travel;
        # displaces c4_line_filter (r4-green, text_clean.py unchanged)
        "snapshot_isolation_read": q_snapshot_isolation_read,
        # new in r5: manifest-stats file skipping (hard-fails unless the
        # plan actually pruned); displaces chunk_pack_documents
        # (r4-green, chunk_pack.py unchanged this round)
        "snapshot_pruned_read": q_snapshot_pruned_read,
        # new in r5: copy-on-write MERGE + DELETE commits; displaces
        # lang_id_trigram (r4-green, text_analysis.py unchanged)
        "snapshot_cow_upsert_delete": q_snapshot_cow_upsert_delete,
        # new in r5: rewriteDataFiles z-order re-clustering (hard-fails
        # unless per-file pruning improved); displaces token_count_regex
        # (r4-green, text_analysis.py unchanged)
        "snapshot_rewrite_zorder": q_snapshot_rewrite_zorder,
        # new in r5: incremental append scan (manifest file-set diff);
        # displaces pii_scrub (r4-green, text_clean.py unchanged)
        "snapshot_incremental_read": q_snapshot_incremental_read,
        # new in r5 session 2: Okapi BM25 corpus search; displaces
        # streaming_window_counts (r4-green, unchanged this round)
        "bm25_topk": q_bm25_topk,
        # new in r5 session 2: bit-reproducible Lloyd k-means; displaces
        # neardup_ngram_jaccard (r4-green, unchanged this round)
        "kmeans_assign": q_kmeans_assign,
        # new in r5 session 2: UT1-style domain blocklist; displaces
        # multimodal_jpeg_decode (r4-green, jpeg.py unchanged this round)
        "url_domain_filter": q_url_domain_filter,
        # new in r5 session 2: HTML main-content extraction; displaces
        # streaming_sessionize_parity (r3/r4-green, streaming unchanged)
        "html_extract": q_html_extract,
        # new in r5 session 2: leakage-safe target encoding (gate proves
        # chunked-prefix-sum == global frame); displaces
        # substring_dup_coverage (r4-green, substring_dedup.py unchanged)
        "target_encode_pit": q_target_encode_pit,
        # new in r5 session 2: data-driven quantile binning; displaces
        # substring_dup_trim (r4-green, substring_dedup.py unchanged)
        "quantile_bins": q_quantile_bins,
        # new in r5 session 2: relational BPE tokenizer training;
        # displaces quality_top_ngram (r4-green, unchanged this round)
        "bpe_train": q_bpe_train,
        # new in r5 session 2: PSI feature-drift monitor; displaces
        # quality_gopher_rules (r4-green, quality_rules.py unchanged)
        "psi_drift": q_psi_drift,
        # new in r5 session 2: BPE train+apply token counts; displaces
        # asof_snapshot_auto (r4-green, plans/skew.py unchanged)
        "bpe_token_count": q_bpe_token_count,
        # new in r5 session 2: categorical-distribution PSI; displaces
        # backfill_purchase_auto (r4-green, plans/skew.py unchanged)
        "psi_drift_cat": q_psi_drift_cat,
        # new in r5 session 2: deterministic negative sampling; displaces
        # dedup_cc_cosine (r4-green, dedup_cluster.py unchanged)
        "negative_pairs": q_negative_pairs,
        "config_compiled_curation": q_config_compiled_curation,
        "config_compiled_dedup": q_config_compiled_dedup,
        "quality_model_score": q_quality_model_score,
        "streaming_snapshot_parity": q_streaming_snapshot_parity,
        # --- tail: displaced r5 (r4-green, code paths unchanged this round) ---
        "streaming_window_counts": q_streaming_window_counts,
        "neardup_ngram_jaccard": q_neardup_ngram_jaccard,
        "multimodal_jpeg_decode": q_multimodal_jpeg,
        "streaming_sessionize_parity": q_streaming_sessionize_parity,
        "substring_dup_coverage": q_substring_dup_coverage,
        "substring_dup_trim": q_substring_dup_trim,
        "quality_top_ngram": q_quality_top_ngram,
        "quality_gopher_rules": q_quality_gopher_rules,
        "asof_snapshot_auto": q_asof_snapshot_auto,
        "backfill_purchase_auto": q_backfill_purchase_auto,
        "dedup_cc_cosine": q_dedup_cc_cosine,
        "pii_scrub": q_pii_scrub,
        "token_count_regex": q_token_count_regex,
        "chunk_pack_documents": q_chunk_pack_documents,
        "lang_id_trigram": q_lang_id_trigram,
        "quality_lm_perplexity": q_quality_lm_perplexity,
        "paragraph_dedup": q_paragraph_dedup,
        "rolling_count_bucketed": q_rolling_count_bucketed,
        "source_mix_sample": q_source_mix_sample,
        "streaming_dedup_parity": q_streaming_dedup_parity,
        "tfidf_top_terms": q_tfidf_top_terms,
        "corpus_stats_per_source": q_corpus_stats_per_source,
        "dedup_keep_best": q_dedup_keep_best,
        "text_normalize": q_text_normalize,
        "audio_spectral": q_audio_spectral,
        "source_jsonl_roundtrip": q_source_jsonl_roundtrip,
        "source_csv_roundtrip": q_source_csv_roundtrip,
        "sketch_profile_events": q_sketch_profile_events,
        "ewma_decayed_activity": q_ewma_decayed_activity,
        # --- tail: green driver rows recorded in r01-r03, unchanged ---
        "lookup_array_kernel_parity": q_same_type_kernel_parity,
        "user_stats_salted": q_user_stats_salted,
        "ann_lsh_top10": q_ann_lsh_top10,
        "id_feature": q_id_feature,
        "lang_id_ngram": q_lang_id,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_doc_fingerprint,
        "neardup_cosine": q_neardup_cosine,
        "match_cross": q_match_cross,
        "asof_pandas_parity": q_asof_pandas_parity,
        "rolling_min_exclusive": q_rolling_min_exclusive,
        "combo_feature": q_combo_feature,
        "raw_bucketize": q_raw_bucketize,
        "lookup_broadcast_dim": q_lookup_broadcast_dim,
        "match_hit_profile": q_match_hit_profile,
        "lookup_kv_feature": q_lookup_kv_feature,
        "lookup_gap_kernel": q_lookup_gap_kernel,
        "kgb_hit_flag": q_kgb_hit_flag,
        "neardup_token_jaccard": q_neardup_token_jaccard,
        "ann_cosine_top10": q_ann_cosine_top10,
        "overlap_common": q_overlap_common,
        "rolling_sum_24h": q_rolling_sum_24h,
        "lag_lead_value": q_lag_lead_value,
        "raw_zscore": q_raw_zscore,
        "rolling_count_1h": q_rolling_count_1h,
        "sessionize_30m": q_sessionize_30m,
        "asof_last_purchase": q_asof_last_purchase,
        "backfill_purchase": q_backfill_purchase,
        "gap_seconds": q_gap_seconds,
        "session_stats": q_session_stats,
        "asof_tolerance_1h": q_asof_tolerance,
        "lookup_v2_hashed": q_lookup_v2_hashed,
        "lookup_legacy_v2_decode": q_lookup_legacy_v2,
        "gap_bucket_timediffnormal": q_gap_bucket,
        "overlap_ratio": q_overlap_ratio,
        "top_words_per_doc": q_top_words_per_doc,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "topk_docs_per_lang": q_topk_docs_per_lang,
        "raw_multivalue_pad": q_raw_multivalue_pad,
        "normalizer_minmax": q_normalizer_minmax,
        "kgb_grouped_bytes": q_kgb_grouped_bytes,
        "kgb_hit_ret_combo": q_kgb_hit_ret,
        "lookup_gap_max_kernel": q_lookup_gap_max,
        "normalizer_bound_regular": q_normalizer_bound_regular,
        "match_weighting": q_match_weighting,
        "combo_sorted_pruneright": q_combo_sorted,
        "preclick_decode_kv": q_preclick_decode_kv,
        "lookup_legacy_v3_decode": q_lookup_legacy_v3,
        "lookup_legacy_btree_decode": q_lookup_legacy_btree,
        "lookup_combo_counts": q_lookup_combo_counts,
        "preclick_match_words": q_preclick_match_words,
        "lookup_v1_weighting": q_lookup_v1_weighting,
        "normalizer_log10": q_normalizer_log10,
        "overlap_divided": q_overlap_divided,
        "match_multihit": q_match_multihit,
        "match_cos": q_match_cos,
        "combo_multivalue": q_combo_multivalue,
        "lookup_v3_multidim": q_lookup_v3_multidim,
        "overlap_diff": q_overlap_diff,
        "preclick_match_count": q_preclick_match_count,
        "id_feature_multivalue": q_id_feature_multivalue,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_wav_decode": q_multimodal_wav,
        "streaming_decayed_parity": q_streaming_decayed_parity,
        "lookup_legacy_sparse_decode": q_lookup_legacy_sparse,
        "multimodal_image_decode": q_multimodal_image,
        "simhash": q_simhash,
        "multimodal_video_decode": q_multimodal_video,
        "multimodal_jpeg_color_decode": q_multimodal_jpeg_color,
        "multimodal_png_decode": q_multimodal_png,
        "c4_line_filter": q_c4_line_filter,
        "lookup_combo_simple": q_lookup_combo_simple,
        "backfill_purchase_chunked": q_backfill_purchase_chunked,
        "asof_last_purchase_chunked": q_asof_last_purchase_chunked,
        "sessionize_30m_chunked": q_sessionize_30m_chunked,
        "rolling_count_1h_chunked": q_rolling_count_1h_chunked,
    }

    def wrap(fn):
        def inner(spark, sf_dir):
            _ensure_conf(spark)
            return fn(spark, sf_dir)

        return inner

    return {k: wrap(v) for k, v in qs.items()}


_TDN_SQL = """
CASE
  WHEN ({g}) IS NULL THEN NULL
  WHEN epoch(ts) - ({g}) <= 0.0001 THEN 0
  WHEN ({g}) <= 60 THEN 1
  WHEN ({g}) < 300 THEN 2
  WHEN ({g}) < 600 THEN 3
  WHEN ({g}) < 1800 THEN 4
  WHEN ({g}) < 3600 THEN 5
  WHEN ({g}) < 21600 THEN 6
  WHEN ({g}) < 43200 THEN 7
  ELSE 8
END"""


def _source_mix_oracle() -> str:
    from featuregenerator_spark.operators.sampling import (
        DEMO_DEFAULT_RATE,
        rates_values_sql,
        split_rate,
    )

    dbase, dthresh = split_rate(DEMO_DEFAULT_RATE)
    return f"""
        WITH r(source, base, thresh) AS {rates_values_sql()},
        d AS (SELECT doc_id, documents.source AS source,
                     coalesce(base, {dbase}) +
                     CASE WHEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                      1, 8) < coalesce(thresh, '{dthresh}')
                          THEN 1 ELSE 0 END AS copies
              FROM documents LEFT JOIN r USING (source))
        SELECT doc_id, source, CAST(u.i AS INTEGER) AS copy_idx
        FROM d, UNNEST(generate_series(1, copies)) AS u(i)"""


def oracle_sql() -> dict[str, str]:
    from featuregenerator_spark.functions import lang_trigram
    from featuregenerator_spark.operators.quality_model import (
        DEMO_BIAS,
        DEMO_WEIGHTS,
        weights_values_sql_scaled,
    )
    from featuregenerator_spark.sources.zorder import (
        zorder_key_sql,
        zorder_key_sql_n,
    )

    zexpr = zorder_key_sql(
        "CAST(user_id AS DOUBLE)", "epoch(ts)",
        "s.umn", "s.umx", "s.tmn", "s.tmx", bits=16,
    )
    zexpr3 = zorder_key_sql_n(
        ["CAST(user_id AS DOUBLE)", "epoch(ts)", "CAST(value AS DOUBLE)"],
        [("s.umn", "s.umx"), ("s.tmn", "s.tmx"), ("s.vmn", "s.vmx")],
        bits=16,
    )

    gap = "epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    sql = {
        "quality_model_score": f"""
            WITH v(token, w10) AS {weights_values_sql_scaled(DEMO_WEIGHTS, 10)},
            t AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
            e AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
            s AS (SELECT doc_id,
                         ({DEMO_BIAS} + (sum(coalesce(v.w10, 0)) / 10.0) / n)
                           AS score
                  FROM e LEFT JOIN v ON e.tok = v.token
                  GROUP BY doc_id, n)
            SELECT doc_id,
                   round(score, 6) AS quality_score,
                   round(1.0 / (1.0 + exp(-score)), 6) AS quality_prob,
                   CAST(1.0 / (1.0 + exp(-score)) >= 0.5 AS INTEGER) AS keep
            FROM s""",
        "quality_lm_perplexity": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
            uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cu
                    FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
            bi AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cb
                   FROM (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM
                         (SELECT toks,
                                 unnest(generate_series(1, len(toks)-1)) AS i
                          FROM tr)) GROUP BY w1, w2),
            v AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM uni),
            bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM
                   (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks)-1)) AS i
                    FROM t)),
            s AS (SELECT doc_id, count(*) AS n_bigrams,
                         round(avg(-ln((coalesce(cb, 0) + 1.0)
                               / (coalesce(cu, 0) + v.v_size))), 4) AS lp
                  FROM bg LEFT JOIN bi USING (w1, w2)
                          LEFT JOIN uni ON bg.w1 = uni.tok, v
                  GROUP BY doc_id),
            b AS (SELECT doc_id, n_bigrams, lp,
                         percent_rank() OVER (ORDER BY lp) AS pr FROM s)
            SELECT d.doc_id,
                   CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   lp AS lm_logppl,
                   CASE WHEN lp IS NULL THEN NULL
                        WHEN pr <= 1.0/3.0 THEN 'head'
                        WHEN pr <= 2.0/3.0 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket,
                   CAST(coalesce(lp <= 3.42, FALSE) AS INTEGER) AS keep
            FROM documents d LEFT JOIN b USING (doc_id)""",
        "bpe_train": _build_bpe_oracle(3),
        "bpe_token_count": _build_bpe_oracle(3, final=_BPE_COUNT_FINAL),
        "negative_pairs": """
            WITH n AS (SELECT count(*) AS n FROM embeddings),
            cand AS (
              SELECT vec_id, label, j,
                     CAST(('0x' || substr(md5('neg:' || vec_id || ':'
                                              || j), 1, 8)) AS BIGINT)
                     % n AS neg_id
              FROM embeddings, n, (SELECT unnest([1, 2, 3, 4]) AS j))
            SELECT c.vec_id, c.j, c.neg_id
            FROM cand c JOIN embeddings e ON c.neg_id = e.vec_id
            WHERE c.neg_id <> c.vec_id AND e.label <> c.label""",
        "psi_drift_cat": """
            WITH ref AS (SELECT lang FROM documents
                         WHERE doc_id % 3 <> 0),
            cur AS (SELECT lang FROM documents WHERE doc_id % 3 = 0),
            cr AS (SELECT lang, count(*) AS n_ref FROM ref
                   GROUP BY lang),
            cc AS (SELECT lang, count(*) AS n_cur FROM cur
                   GROUP BY lang),
            tr AS (SELECT count(*) AS t_ref FROM ref),
            tc AS (SELECT count(*) AS t_cur FROM cur),
            j AS (
              SELECT lang,
                     greatest(CAST(COALESCE(n_ref, 0) AS DOUBLE)
                              / t_ref, 1e-6) AS p,
                     greatest(CAST(COALESCE(n_cur, 0) AS DOUBLE)
                              / t_cur, 1e-6) AS q
              FROM cr FULL JOIN cc USING (lang), tr, tc)
            SELECT lang, p, q,
                   CAST(round((p - q) * ln(p / q) * 1000000000.0)
                        AS BIGINT) / 1000000000.0 AS term
            FROM j""",
        "psi_drift": """
            WITH ref AS (SELECT event_type, value FROM events
                         WHERE event_id % 3 <> 0),
            cur AS (SELECT event_type, value FROM events
                    WHERE event_id % 3 = 0),
            e AS (SELECT event_type,
                         quantile_cont(value, 0.2) AS e1,
                         quantile_cont(value, 0.4) AS e2,
                         quantile_cont(value, 0.6) AS e3,
                         quantile_cont(value, 0.8) AS e4
                  FROM ref GROUP BY event_type),
            br AS (SELECT r.event_type,
                          (CASE WHEN value > e1 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e2 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e3 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e4 THEN 1 ELSE 0 END)
                            AS bin
                   FROM ref r JOIN e USING (event_type)),
            bc AS (SELECT c.event_type,
                          (CASE WHEN value > e1 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e2 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e3 THEN 1 ELSE 0 END)
                          + (CASE WHEN value > e4 THEN 1 ELSE 0 END)
                            AS bin
                   FROM cur c JOIN e USING (event_type)),
            cr AS (SELECT event_type, bin, count(*) AS n_ref
                   FROM br GROUP BY event_type, bin),
            cc AS (SELECT event_type, bin, count(*) AS n_cur
                   FROM bc GROUP BY event_type, bin),
            tr AS (SELECT event_type, count(*) AS t_ref
                   FROM br GROUP BY event_type),
            tc AS (SELECT event_type, count(*) AS t_cur
                   FROM bc GROUP BY event_type),
            sc AS (SELECT event_type, unnest(range(0, 5)) AS bin FROM e),
            j AS (SELECT sc.event_type, sc.bin,
                         greatest(CAST(COALESCE(n_ref, 0) AS DOUBLE)
                                  / t_ref, 1e-6) AS p,
                         greatest(CAST(COALESCE(n_cur, 0) AS DOUBLE)
                                  / t_cur, 1e-6) AS q
                  FROM sc LEFT JOIN cr USING (event_type, bin)
                          LEFT JOIN cc USING (event_type, bin)
                          JOIN tr USING (event_type)
                          JOIN tc USING (event_type))
            SELECT event_type,
                   sum(CAST(round((p - q) * ln(p / q) * 1000000000.0)
                            AS BIGINT)) / 1000000000.0 AS psi
            FROM j GROUP BY event_type""",
        "target_encode_pit": """
            WITH t AS (
              SELECT event_id, ts, event_type,
                     CAST(round(value * 1000000) AS BIGINT) AS tm
              FROM events),
            w AS (
              SELECT event_id, event_type,
                     sum(tm) OVER (PARTITION BY event_type
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS sum_cat,
                     count(*) OVER (PARTITION BY event_type
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS cnt_cat,
                     sum(tm) OVER (ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS sum_all,
                     count(*) OVER (ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS cnt_all
              FROM t)
            SELECT event_id, event_type,
                   CASE WHEN cnt_all > 0 THEN
                     (CAST(COALESCE(sum_cat, 0) AS DOUBLE) / 1000000
                      + 20 * (CAST(sum_all AS DOUBLE) / cnt_all
                              / 1000000))
                     / (COALESCE(cnt_cat, 0) + 20)
                   END AS te
            FROM w""",
        "quantile_bins": """
            WITH tr AS (
              SELECT value FROM events WHERE event_id % 10 < 8),
            e AS (SELECT quantile_cont(value, 0.25) AS e1,
                         quantile_cont(value, 0.5) AS e2,
                         quantile_cont(value, 0.75) AS e3
                  FROM tr)
            SELECT event_id, value,
                   CAST((CASE WHEN value > e1 THEN 1 ELSE 0 END)
                        + (CASE WHEN value > e2 THEN 1 ELSE 0 END)
                        + (CASE WHEN value > e3 THEN 1 ELSE 0 END)
                        AS INTEGER) AS bin
            FROM events, e""",
        # composed by concatenation (not f-string: templates contain
        # literal braces) so the oracle's HTML input is byte-identical
        # to the Spark query's.
        "html_extract": (
            r"""
            WITH h AS (
              SELECT doc_id,
                     CASE CAST(doc_id % 4 AS INTEGER)
                       WHEN 0 THEN '"""
            + _HTML_T0_PRE
            + "' || text || '"
            + _HTML_T0_POST
            + r"""'
                       WHEN 1 THEN '"""
            + _HTML_T1_PRE
            + "' || text || '"
            + _HTML_T1_POST
            + r"""'
                       WHEN 2 THEN '"""
            + _HTML_T2_PRE
            + "' || text || '"
            + _HTML_T2_POST
            + r"""'
                       ELSE text END AS html
              FROM documents),
            s1 AS (
              SELECT doc_id, html,
                     regexp_replace(regexp_replace(regexp_replace(html,
                       '(?is)<script[^>]*>.*?</script>', '', 'g'),
                       '(?is)<style[^>]*>.*?</style>', '', 'g'),
                       '(?s)<!--.*?-->', '', 'g') AS t
              FROM h),
            s2 AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '(?s)<[^>]*>'))
                     + len(regexp_extract_all(html,
                         '(?is)<script[^>]*>.*?</script>'))
                     + len(regexp_extract_all(html,
                         '(?is)<style[^>]*>.*?</style>'))
                     + len(regexp_extract_all(html, '(?s)<!--.*?-->'))
                       AS n_tags,
                     regexp_replace(regexp_replace(t,
                       '(?i)</(?:p|div|li|h[1-6]|ul|ol|tr|table)>|<br[^>]*>',
                       chr(10), 'g'),
                       '(?s)<[^>]*>', '', 'g') AS t2
              FROM s1),
            s3 AS (
              SELECT doc_id, n_tags,
                     replace(replace(replace(replace(replace(replace(t2,
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')
                       AS t3
              FROM s2),
            s4 AS (
              SELECT doc_id, n_tags,
                     list_filter(list_transform(string_split(t3, chr(10)),
                       l -> regexp_replace(l, '^\s+|\s+$', '', 'g')),
                       l -> l <> '') AS lines
              FROM s3)
            SELECT doc_id, array_to_string(lines, chr(10)) AS extracted,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(n_tags AS BIGINT) AS n_tags
            FROM s4"""
        ),
        "url_domain_filter": """
            WITH u AS (
              SELECT doc_id,
                     'https://' ||
                     (['ads7.example.com', 'cdn.tracker.net',
                       'docs.spark.apache.org',
                       'user:pw@mirror.spam-mill.biz:8080',
                       'blog.example.com', 'en.wikipedia.org',
                       'sub.deep.tracker.net']
                      )[CAST(doc_id % 7 AS INTEGER) + 1]
                     || '/p/' || doc_id AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                     lower(regexp_extract(
                       regexp_extract(url,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                       '^(?:[^@/]*@)?([^:]+)', 1)) AS host
              FROM u),
            hh AS (
              SELECT doc_id, url, host,
                     regexp_extract(host, '([^.]+[.][^.]+)$', 1)
                       AS reg_domain
              FROM h),
            sufs AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, len(string_split(host, '.')) + 1),
                       i -> array_to_string(
                              string_split(host, '.')[i:], '.')))
                       AS suffix
              FROM hh),
            hits AS (
              SELECT DISTINCT doc_id FROM sufs
              WHERE suffix IN ('ads7.example.com', 'tracker.net',
                               'spam-mill.biz'))
            SELECT hh.doc_id, url, host, reg_domain,
                   (hits.doc_id IS NOT NULL) AS blocked
            FROM hh LEFT JOIN hits ON hh.doc_id = hits.doc_id""",
        "kmeans_assign": """
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 1000)
                                 AS BIGINT)) AS qv
              FROM embeddings),
            qx AS (SELECT vec_id, generate_subscripts(qv, 1) AS pos,
                          unnest(qv) AS val FROM q),
            c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos,
                          val AS cval
                   FROM qx WHERE vec_id < 8),
            d1 AS (SELECT a.vec_id, c.cid,
                          sum((a.val - c.cval) * (a.val - c.cval)) AS d
                   FROM qx a JOIN c0 c USING (pos)
                   GROUP BY a.vec_id, c.cid),
            a1 AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                ORDER BY d, cid) AS rn
                     FROM d1) WHERE rn = 1),
            c1 AS (SELECT a1.cid, qx.pos,
                          CAST(round(CAST(sum(qx.val) AS DOUBLE)
                                     / count(*)) AS BIGINT) AS cval
                   FROM qx JOIN a1 USING (vec_id)
                   GROUP BY a1.cid, qx.pos),
            d2 AS (SELECT a.vec_id, c.cid,
                          sum((a.val - c.cval) * (a.val - c.cval)) AS d
                   FROM qx a JOIN c1 c USING (pos)
                   GROUP BY a.vec_id, c.cid),
            a2 AS (SELECT vec_id, cid, d,
                          row_number() OVER (PARTITION BY vec_id
                              ORDER BY d, cid) AS rn
                   FROM d2)
            SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
                   CAST(d AS BIGINT) AS dist_sq
            FROM a2 WHERE rn = 1""",
        "bm25_topk": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
            lens AS (SELECT doc_id, len(toks) AS dl FROM toks),
            stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                      FROM lens),
            qhits AS (
              SELECT doc_id, unnest(toks) AS term FROM toks),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM qhits
                   WHERE term IN ('merge', 'spark', 'vector', 'window')
                   GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            contrib AS (
              SELECT doc_id,
                     CAST(round(
                       (ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * ((tf * (1.2 + 1.0))
                           / (tf + 1.2 * (1.0 - 0.75
                              + 0.75 * CAST(dl AS DOUBLE) / avgdl))))
                       * 1000000.0) AS BIGINT) AS micro
              FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id),
                   stats),
            scored AS (SELECT doc_id, sum(micro) AS micro
                       FROM contrib GROUP BY doc_id),
            r AS (SELECT doc_id, micro,
                         row_number() OVER (ORDER BY micro DESC,
                                            doc_id ASC) AS rank
                  FROM scored)
            SELECT doc_id, micro / 1000000.0 AS bm25,
                   CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 10""",
        "tfidf_top_terms": """
            WITH terms AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM terms GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term,
                     tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS s
              FROM tf JOIN dfreq USING (term), n),
            r AS (SELECT doc_id, term, s,
                         row_number() OVER (PARTITION BY doc_id
                             ORDER BY s DESC, term ASC) AS rank
                  FROM scored)
            SELECT doc_id, term, round(s, 4) AS tfidf,
                   CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 5""",
        "corpus_stats_per_source": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     AS total_tokens,
                   round(avg(len(string_split(text, ' '))), 4)
                     AS mean_tokens,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents GROUP BY source""",
        "text_normalize": r"""
            WITH d AS (
              SELECT doc_id,
                     '  MIXED Case' || chr(9) || text ||
                     CASE WHEN doc_id % 3 = 0
                          THEN chr(7) || chr(1) ELSE '' END ||
                     '  trailing   runs ' AS text
              FROM documents
            ), s AS (
              SELECT doc_id, text,
                     regexp_replace(text,
                         '[\x00-\x08\x0b-\x1f\x7f]', '', 'g') AS no_ctrl
              FROM d
            ), c AS (
              SELECT doc_id, text, no_ctrl,
                     trim(regexp_replace(no_ctrl, '[ \t\n\r]+', ' ', 'g'))
                       AS collapsed
              FROM s
            )
            SELECT doc_id,
                   CAST(length(text) - length(no_ctrl) AS BIGINT)
                     AS n_ctrl_removed,
                   CAST(length(no_ctrl) - length(collapsed) AS BIGINT)
                     AS n_ws_collapsed,
                   CAST(lower(collapsed) <> text AS INTEGER) AS changed,
                   lower(collapsed) AS norm_text
            FROM c""",
        "rolling_count_1h": """
            SELECT event_id,
                   CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) - 1 AS DOUBLE)
                   AS prior_cnt_1h
            FROM events""",
        "rolling_sum_24h": """
            SELECT event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                        RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW), 4)
                   AS sum_value_24h
            FROM events""",
        "rolling_min_exclusive": """
            SELECT event_id,
                   round(min(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
                        EXCLUDE CURRENT ROW), 4)
                   AS min_value_1h
            FROM events""",
        "gap_seconds": f"""
            SELECT event_id, round({gap}, 6) AS gap_seconds FROM events""",
        "streaming_snapshot_parity": f"""
            SELECT event_id,
                   CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) - 1 AS BIGINT)
                   AS n_prior_events,
                   round({gap}, 6) AS gap_seconds
            FROM events""",
        "gap_bucket_timediffnormal": f"""
            SELECT event_id,
                   CAST({_TDN_SQL.format(g=gap)} AS INTEGER) AS gap_bucket
            FROM events""",
        "sessionize_30m": f"""
            SELECT event_id,
                   CAST(sum(CASE WHEN g IS NULL OR g > 1800 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_idx
            FROM (SELECT *, {gap} AS g FROM events)""",
        "asof_last_purchase": """
            SELECT e.event_id, round(p.pv, 4) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, max(value) AS pv FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) p ON e.user_id = p.user_id AND e.ts > p.ts""",
        "backfill_purchase": """
            SELECT event_id,
                   round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                                    IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS last_purchase_ffill
            FROM events""",
        "lag_lead_value": """
            SELECT event_id,
                   lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
                   lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
            FROM events""",
        "lookup_array_kernel_parity": """
            SELECT event_id,
                   CAST(count(*) OVER (PARTITION BY user_id, event_type
                        ORDER BY epoch(ts)
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) - 1 AS DOUBLE)
                   AS same_type_cnt_1h
            FROM events""",
        "user_stats_salted": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY user_id""",
        "id_feature": """
            SELECT event_id, 'etype_' || event_type AS etype_key FROM events""",
        "combo_feature": """
            SELECT 'combo_' || l_returnflag || '_' || l_linestatus AS combo_key,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1""",
        "raw_bucketize": """
            SELECT CAST((CASE WHEN o_totalprice >= 1000 THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice >= 10000 THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END)
                 + (CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END) AS BIGINT)
                 AS price_bucket,
                   count(*) AS cnt
            FROM orders GROUP BY 1""",
        "raw_zscore": """
            SELECT l_orderkey, l_linenumber,
                   round((l_extendedprice - 30000.0) / 15000.0, 6) AS z
            FROM lineitem""",
        "lookup_broadcast_dim": """
            SELECT 'seg_' || c_mktsegment AS seg_key, count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1""",
        "match_hit_profile": """
            SELECT c_custkey, round(round(c_acctbal, 2), 2) AS hit_value
            FROM customer""",
        "lookup_kv_feature": """
            SELECT p_partkey, 'lk_size_' || CAST(p_size AS VARCHAR) AS size_key
            FROM part""",
        "lookup_gap_kernel": """
            WITH mr AS (
              SELECT event_id, epoch(ts) AS now,
                     max(epoch(ts)) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_ts
              FROM events)
            SELECT event_id,
                   CAST(CASE
                     WHEN prev_ts IS NULL OR now - prev_ts > 86400 THEN 0
                     WHEN now - least(86400, now - prev_ts) <= 0.0001 THEN 0
                     WHEN least(86400, now - prev_ts) <= 60 THEN 1
                     WHEN least(86400, now - prev_ts) < 300 THEN 2
                     WHEN least(86400, now - prev_ts) < 600 THEN 3
                     WHEN least(86400, now - prev_ts) < 1800 THEN 4
                     WHEN least(86400, now - prev_ts) < 3600 THEN 5
                     WHEN least(86400, now - prev_ts) < 21600 THEN 6
                     WHEN least(86400, now - prev_ts) < 43200 THEN 7
                     ELSE 8 END AS DOUBLE) AS since_same_type
            FROM mr""",
        "kgb_hit_flag": """
            SELECT p_partkey,
                   CAST(CASE WHEN p_size < 50 THEN 1 ELSE 0 END AS INTEGER)
                   AS kgb_hits
            FROM part""",
        "overlap_common": """
            SELECT doc_id,
                   CAST((CASE WHEN list_contains(string_split(text,' '),'spark') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(string_split(text,' '),'join') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(string_split(text,' '),'scan') THEN 1 ELSE 0 END)
                      + (CASE WHEN list_contains(string_split(text,' '),'window') THEN 1 ELSE 0 END)
                     AS INTEGER) AS common_words
            FROM documents""",
        "overlap_ratio": """
            WITH c AS (
              SELECT doc_id,
                     (CASE WHEN list_contains(string_split(text,' '),'spark') THEN 1 ELSE 0 END)
                   + (CASE WHEN list_contains(string_split(text,' '),'join') THEN 1 ELSE 0 END)
                   + (CASE WHEN list_contains(string_split(text,' '),'scan') THEN 1 ELSE 0 END)
                   + (CASE WHEN list_contains(string_split(text,' '),'window') THEN 1 ELSE 0 END)
                     AS common,
                     len(string_split(text,' ')) AS nt
              FROM documents)
            SELECT doc_id,
                   CAST(floor(10  * common / 4.0) AS BIGINT) AS qcr,
                   CAST(floor(100 * common / CAST(nt AS DOUBLE)) AS BIGINT) AS tcr
            FROM c""",
        "top_words_per_doc": """
            SELECT doc_id,
                   CAST(to_json(list(word ORDER BY cnt DESC, word ASC)[1:5])
                        AS VARCHAR) AS top_words
            FROM (
              SELECT doc_id, word, count(*) AS cnt
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents)
              GROUP BY doc_id, word)
            GROUP BY doc_id""",
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1""",
        "dedup_connected_components": """
            WITH RECURSIVE
            t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
            e AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.toks, b.toks)))
                    >= 0.8),
            sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
            reach AS (
                SELECT u AS node, v AS r FROM sym
              UNION
                SELECT reach.node, sym.v AS r
                FROM reach JOIN sym ON reach.r = sym.u
            )
            SELECT node AS doc_id, least(node, min(r)) AS component
            FROM reach GROUP BY node""",
        "dedup_incremental": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
            m AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
                     CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.toks, b.toks)))
                     AS jac
              FROM t a JOIN t b ON a.lang = b.lang
              WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
            f AS (SELECT doc_id, match_id, round(jac, 4) AS jaccard
                  FROM m WHERE jac >= 0.8)
            SELECT doc_id, match_id, jaccard FROM (
              SELECT f.*, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY jaccard DESC, match_id) AS rn
              FROM f)
            WHERE rn = 1""",
        "neardup_ngram_jaccard": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(list_transform(
                         range(1, greatest(length(text) - 1, 2)),
                         i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
              FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4)
                   AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""",
        "pack_materialize": """
            WITH t AS (
              SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id, source, i - 1 AS chunk_idx,
                     list_slice(toks, (i-1)*32 + 1, (i-1)*32 + 40) AS ctoks
              FROM t, UNNEST(generate_series(1,
                     greatest(1, CAST(ceil((len(toks) - 8) / 32.0) AS INT))
                   )) AS u(i)
            ), r AS (
              SELECT doc_id, source, chunk_idx,
                     array_to_string(ctoks, ' ') AS ctext,
                     CAST(len(ctoks) AS INTEGER) AS ctok
              FROM c
            ), p AS (
              SELECT *,
                     sum(ctok) OVER (PARTITION BY source
                         ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - ctok AS cum_excl
              FROM r
            )
            SELECT source,
                   CAST(floor(cum_excl / 256) AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(ctok) AS BIGINT) AS n_tokens,
                   md5(string_agg(ctext, '<|endofchunk|>'
                       ORDER BY doc_id, chunk_idx)) AS packed_md5
            FROM p
            GROUP BY source, CAST(floor(cum_excl / 256) AS BIGINT)""",
        "dataset_split_assign": """
            SELECT doc_id,
                   CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                    1, 8) < 'cccccccd' THEN 'train'
                        WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                    1, 8) < 'e6666666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "sample_stratified_lang": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rn
              FROM documents)
            WHERE rn <= 20""",
        "decontaminate_benchmark": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            w AS (
              SELECT doc_id, i - 1 AS start,
                     array_to_string(list_slice(toks, i, i + 8 - 1), ' ') AS sh
              FROM t, UNNEST(generate_series(1, greatest(len(toks) - 8 + 1, 0)))
                   AS u(i)),
            bh AS (SELECT DISTINCT sh FROM w WHERE doc_id % 50 = 0),
            hits AS (
              SELECT w.doc_id,
                     count(DISTINCT w.sh) AS n_hit_windows,
                     min(w.start) AS first_hit_start
              FROM w JOIN bh USING (sh)
              WHERE w.doc_id % 50 <> 0
              GROUP BY w.doc_id)
            SELECT d.doc_id,
                   coalesce(h.n_hit_windows, 0) AS n_hit_windows,
                   h.first_hit_start,
                   CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
            FROM documents d
            LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id % 50 <> 0""",
        "substring_dup_coverage": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            w AS (
              SELECT doc_id, i - 1 AS start,
                     array_to_string(list_slice(toks, i, i + 8 - 1), ' ') AS sh
              FROM t, UNNEST(generate_series(1, greatest(len(toks) - 8 + 1, 0)))
                   AS u(i)),
            dup AS (SELECT sh FROM w GROUP BY sh HAVING count(*) >= 2),
            dw AS (SELECT w.doc_id, w.start FROM w JOIN dup USING (sh)),
            sweep AS (
              SELECT doc_id, start,
                     CASE WHEN start > coalesce(max(start + 8) OVER (
                         PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         -1) - 1
                     THEN 1 ELSE 0 END AS new_grp
              FROM dw),
            grp AS (
              SELECT doc_id, start,
                     sum(new_grp) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM sweep),
            cov AS (
              SELECT doc_id, sum(cnt) AS dup_windows, sum(mx - mn) AS covered
              FROM (SELECT doc_id, g, count(*) AS cnt, min(start) AS mn,
                           max(start) + 8 AS mx
                    FROM grp GROUP BY doc_id, g)
              GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(cov.dup_windows, 0) AS BIGINT) AS dup_windows,
                   CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
                   round(CAST(coalesce(cov.covered, 0) AS DOUBLE)
                         / len(t.toks), 4) AS dup_token_frac
            FROM t LEFT JOIN cov USING (doc_id)""",
        "config_compiled_dedup": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            w AS (
              SELECT doc_id, i - 1 AS start,
                     array_to_string(list_slice(toks, i, i + 8 - 1), ' ') AS sh
              FROM t, UNNEST(generate_series(1, greatest(len(toks) - 8 + 1, 0)))
                   AS u(i)),
            dup AS (SELECT sh FROM w GROUP BY sh HAVING count(*) >= 2),
            dwc AS (SELECT w.doc_id, w.start FROM w JOIN dup USING (sh)),
            sweepc AS (
              SELECT doc_id, start,
                     CASE WHEN start > coalesce(max(start + 8) OVER (
                         PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         -1) - 1
                     THEN 1 ELSE 0 END AS new_grp
              FROM dwc),
            grpc AS (
              SELECT doc_id, start,
                     sum(new_grp) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM sweepc),
            cov AS (
              SELECT doc_id, sum(cnt) AS dup_windows, sum(mx - mn) AS covered
              FROM (SELECT doc_id, g, count(*) AS cnt, min(start) AS mn,
                           max(start) + 8 AS mx
                    FROM grpc GROUP BY doc_id, g)
              GROUP BY doc_id),
            d AS (
              SELECT doc_id, start,
                     row_number() OVER (PARTITION BY sh
                         ORDER BY doc_id, start) AS rn,
                     count(*) OVER (PARTITION BY sh) AS occ
              FROM w),
            cuts AS (SELECT doc_id, start FROM d WHERE occ >= 2 AND rn >= 2),
            sweep AS (
              SELECT doc_id, start,
                     CASE WHEN start > coalesce(max(start + 8) OVER (
                         PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         -1) - 1
                     THEN 1 ELSE 0 END AS new_grp
              FROM cuts),
            grp AS (
              SELECT doc_id, start,
                     sum(new_grp) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM sweep),
            iv AS (
              SELECT doc_id,
                     list(struct_pack(mn := mn, mx := mx)) AS cut_list,
                     sum(mx - mn) AS removed
              FROM (SELECT doc_id, g, min(start) AS mn, max(start) + 8 AS mx
                    FROM grp GROUP BY doc_id, g)
              GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(coalesce(cov.dup_windows, 0) AS BIGINT)
                     AS subdup_windows,
                   round(CAST(coalesce(cov.covered, 0) AS DOUBLE)
                         / len(t.toks), 4) AS subdup_frac,
                   coalesce(array_to_string(
                       list_filter(t.toks, (x, i) ->
                           len(list_filter(coalesce(iv.cut_list, []),
                               c -> (i - 1) >= c.mn AND (i - 1) < c.mx)) = 0),
                       ' '), '') AS text_clean,
                   CAST(coalesce(iv.removed, 0) AS BIGINT)
                     AS text_clean_removed
            FROM t LEFT JOIN cov USING (doc_id) LEFT JOIN iv USING (doc_id)
            WHERE round(CAST(coalesce(cov.covered, 0) AS DOUBLE)
                        / len(t.toks), 4) < 0.99""",
        "source_mix_sample": _source_mix_oracle(),
        "paragraph_dedup": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                    '\1' || chr(10), 'g')
                     || CASE WHEN doc_id % 5 = 0
                        THEN chr(10) || 'subscribe to our newsletter for updates'
                        ELSE '' END AS text
              FROM documents
            ), sp AS (
              SELECT doc_id,
                     list_filter(string_split(text, chr(10)),
                                 x -> x <> '') AS parts
              FROM d
            ), p AS (
              SELECT doc_id, i - 1 AS idx, parts[i] AS para
              FROM sp, UNNEST(generate_series(1, len(parts))) AS u(i)
            ), r AS (
              SELECT doc_id, idx, para,
                     row_number() OVER (PARTITION BY para
                         ORDER BY doc_id, idx) AS rn
              FROM p
            ), per AS (
              SELECT doc_id, count(*) AS n_p,
                     sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_d,
                     coalesce(array_to_string(
                         list(para ORDER BY idx) FILTER (WHERE rn = 1),
                         chr(10)), '') AS ct
              FROM r GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_p, 0) AS BIGINT) AS n_paragraphs,
                   CAST(coalesce(n_d, 0) AS BIGINT) AS n_dup_paragraphs,
                   round(coalesce(CAST(n_d AS DOUBLE) / n_p, 0.0), 4)
                     AS dup_para_frac,
                   coalesce(ct, '') AS clean_text
            FROM d LEFT JOIN per USING (doc_id)""",
        "substring_dup_trim": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            w AS (
              SELECT doc_id, i - 1 AS start,
                     array_to_string(list_slice(toks, i, i + 8 - 1), ' ') AS sh
              FROM t, UNNEST(generate_series(1, greatest(len(toks) - 8 + 1, 0)))
                   AS u(i)),
            d AS (
              SELECT doc_id, start,
                     row_number() OVER (PARTITION BY sh
                         ORDER BY doc_id, start) AS rn,
                     count(*) OVER (PARTITION BY sh) AS occ
              FROM w),
            cuts AS (SELECT doc_id, start FROM d WHERE occ >= 2 AND rn >= 2),
            sweep AS (
              SELECT doc_id, start,
                     CASE WHEN start > coalesce(max(start + 8) OVER (
                         PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         -1) - 1
                     THEN 1 ELSE 0 END AS new_grp
              FROM cuts),
            grp AS (
              SELECT doc_id, start,
                     sum(new_grp) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM sweep),
            iv AS (
              SELECT doc_id,
                     list(struct_pack(mn := mn, mx := mx)) AS cut_list,
                     sum(mx - mn) AS removed
              FROM (SELECT doc_id, g, min(start) AS mn, max(start) + 8 AS mx
                    FROM grp GROUP BY doc_id, g)
              GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(iv.removed, 0) AS BIGINT) AS n_removed_tokens,
                   coalesce(array_to_string(
                       list_filter(t.toks, (x, i) ->
                           len(list_filter(coalesce(iv.cut_list, []),
                               c -> (i - 1) >= c.mn AND (i - 1) < c.mx)) = 0),
                       ' '), '') AS text_clean
            FROM t LEFT JOIN iv USING (doc_id)""",
        "neardup_token_jaccard": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.toks, b.toks))), 4)
                   AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8""",
        "ann_cosine_top10": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe), 3)
                   AS cos_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
            LIMIT 10""",
        "text_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   round(CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
                         / len(string_split(text,' ')), 4) AS avg_token_len,
                   round(CAST(len(list_filter(string_split(text,' '),
                              w -> list_contains(['the','a','of','and'], w)))
                              AS DOUBLE) / len(string_split(text,' ')), 4)
                   AS stopword_ratio,
                   md5(lower(text)) AS fingerprint
            FROM documents""",
        "topk_docs_per_lang": """
            SELECT lang, doc_id, n_chars, CAST(rn AS INTEGER) AS rn FROM (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
            WHERE rn <= 3""",
        "lang_id_ngram": """
            WITH h AS (
              SELECT doc_id,
                len(list_filter(string_split(text,' '),
                    t -> list_contains(['the','a','of','and'], t))) AS en,
                len(list_filter(string_split(text,' '),
                    t -> list_contains(['der','die','das','und'], t))) AS de,
                len(list_filter(string_split(text,' '),
                    t -> list_contains(['le','la','les','et'], t))) AS fr
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(en,de,fr) = 0 THEN 'und'
                        WHEN en = greatest(en,de,fr) THEN 'en'
                        WHEN de = greatest(en,de,fr) THEN 'de'
                        ELSE 'fr' END AS pred_lang
            FROM h""",
        "lang_id_trigram": lang_trigram.oracle_sql("documents", "doc_id"),
        "token_count_regex": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_tok
            FROM documents""",
        "quality_score": """
            WITH s AS (
              SELECT doc_id,
                CAST(len(string_split(text,' ')) AS DOUBLE) AS n,
                CAST(len(list_filter(string_split(text,' '),
                     t -> list_contains(['the','a','of','and'], t))) AS DOUBLE) AS stop,
                CAST(length(text)
                     - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                     AS DOUBLE) AS punct,
                CAST(length(text) AS DOUBLE) AS chars
              FROM documents)
            SELECT doc_id,
                   round(0.4 * least(1.0, n/64.0)
                       + 0.3 * least(1.0, 4.0*stop/n)
                       + 0.3 * (1.0 - least(1.0,
                           CASE WHEN chars > 0 THEN 4.0*punct/chars
                                ELSE 0.0 END)), 6) AS quality
            FROM s""",
        "doc_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text,' '),
                         t -> CAST(length(t)*17 + ascii(t) AS BIGINT))),
                     (a, b) -> (a*31 + b) % 1000000007) AS fp
            FROM documents""",
        "neardup_cosine": """
            WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
            FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.3""",
        "dedup_cc_cosine": """
            WITH RECURSIVE
            t AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
                  FROM embeddings),
            edg AS (
              SELECT a.vec_id AS u, b.vec_id AS v
              FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.3),
            sym AS (SELECT u, v FROM edg UNION SELECT v AS u, u AS v FROM edg),
            reach AS (
                SELECT u AS node, v AS r FROM sym
              UNION
                SELECT reach.node, sym.v AS r
                FROM reach JOIN sym ON reach.r = sym.u
            )
            SELECT node AS vec_id, least(node, min(r)) AS component
            FROM reach GROUP BY node""",
        "session_stats": f"""
            WITH s AS (
              SELECT user_id, value, epoch(ts) AS tsec,
                     sum(CASE WHEN g IS NULL OR g > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_idx
              FROM (SELECT *, {gap} AS g FROM events))
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   count(*) AS n_events,
                   round(max(tsec) - min(tsec), 6) AS duration_s,
                   round(avg(value), 4) AS avg_value
            FROM s GROUP BY user_id, session_idx""",
        "asof_tolerance_1h": """
            SELECT e.event_id,
                   round(CASE WHEN epoch(e.ts) - epoch(p.ts) <= 3600
                              THEN p.pv END, 4) AS pv_1h
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, max(value) AS pv FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) p ON e.user_id = p.user_id AND e.ts > p.ts""",
        "match_multihit": """
            SELECT c_custkey,
                   CAST(to_json(['mh_seg_' || c_mktsegment || '_1',
                    'mh_nat_n' || CAST(c_nationkey AS VARCHAR) || '_2'])
                   AS VARCHAR) AS mh_keys
            FROM customer""",
        "match_cos": """
            SELECT c_custkey,
                   CAST(trunc(25.0*(c_custkey % 2) + 6.25*(c_custkey % 4))
                        AS BIGINT) AS cos_scaled
            FROM customer""",
        "combo_multivalue": """
            SELECT p_partkey,
                   CAST(to_json(list_transform(string_split(p_type,' ')[1:2],
                     w -> 'cm_' || w || '_' || p_brand)) AS VARCHAR)
                   AS combo_keys
            FROM part""",
        "lookup_v2_hashed": """
            SELECT p_partkey, round(p_retailprice + p_size, 4) AS v2_sum
            FROM part""",
        "lookup_v3_multidim": """
            SELECT p_partkey,
                   CAST(to_json([round(p_retailprice + 2.0*p_size, 4),
                    round(p_size + 1.0, 4)]::DOUBLE[]) AS VARCHAR) AS v3_dims
            FROM part""",
        "lookup_legacy_v2_decode": """
            SELECT p_partkey,
                   round(CAST(CAST(p_retailprice AS REAL) AS DOUBLE)
                         + CAST(CAST(p_size AS REAL) AS DOUBLE), 4)
                   AS legacy_sum
            FROM part""",
        "lookup_legacy_v3_decode": """
            SELECT p_partkey,
                   round(CAST(p_size + length(p_type) AS DOUBLE), 4)
                   AS v3_int_sum,
                   round(CAST(CAST(p_retailprice AS REAL) AS DOUBLE)
                         + CAST(CAST(p_size * 0.5 AS REAL) AS DOUBLE), 4)
                   AS v3_f32_d0,
                   round(CAST(CAST(p_size AS REAL) AS DOUBLE) + 1.0, 4)
                   AS v3_f32_d1
            FROM part""",
        "lookup_legacy_btree_decode": """
            SELECT p_partkey,
                   round(CAST(CAST(p_size AS REAL) AS DOUBLE)
                         + CAST(CAST(p_retailprice AS REAL) AS DOUBLE)
                         + 1.0, 4) AS btree_sum
            FROM part""",
        "lookup_legacy_sparse_decode": """
            SELECT p_partkey,
                   round(CAST(CAST(p_retailprice AS REAL) AS DOUBLE)
                         + CAST(2*p_size + 1 AS DOUBLE), 4) AS sparse_d0,
                   round(CAST(CAST(p_size AS REAL) AS DOUBLE) + 3.0, 4)
                   AS sparse_d1
            FROM part""",
        # encode -> decode == identity for all four write-side codecs:
        # the probed values are integer counts (exact in f32/u8/u16, sums
        # order-independent), so the direct relational computation is the
        # exact expected value; v2_len pins the V2 layout (12 bytes/key)
        "legacy_encode_roundtrip": """
            SELECT user_id,
                   CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
                   CAST(12 * count(DISTINCT event_type) AS INTEGER)
                     AS v2_len,
                   CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
                            THEN 1 ELSE 0 END) AS DOUBLE) AS v2_val,
                   CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
                            THEN 1 ELSE 0 END) AS DOUBLE) AS v3_val,
                   CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
                            THEN 1 ELSE 0 END) AS DOUBLE) AS sp_val,
                   CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
                            THEN 1 ELSE 0 END) AS DOUBLE) AS bt_val
            FROM events
            GROUP BY user_id""",
        "overlap_diff": """
            SELECT doc_id,
              CAST((CASE WHEN NOT list_contains(string_split(text,' '),'spark') THEN 1 ELSE 0 END)
                 + (CASE WHEN NOT list_contains(string_split(text,' '),'join') THEN 1 ELSE 0 END)
                 + (CASE WHEN NOT list_contains(string_split(text,' '),'scan') THEN 1 ELSE 0 END)
                 + (CASE WHEN NOT list_contains(string_split(text,' '),'window') THEN 1 ELSE 0 END)
                   AS INTEGER) AS diff_words,
              CAST(CASE WHEN list_contains(string_split(text,' '),'spark')
                          OR list_contains(string_split(text,' '),'join')
                          OR list_contains(string_split(text,' '),'scan')
                          OR list_contains(string_split(text,' '),'window')
                        THEN 1 ELSE 0 END AS INTEGER) AS hit,
              CAST(CASE WHEN string_split(text,' ') = ['spark','join','scan','window']
                        THEN 1 ELSE 0 END AS INTEGER) AS eq
            FROM documents""",
        "preclick_match_count": """
            WITH wc AS (
              SELECT doc_id, word, count(*) AS cnt
              FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word
                    FROM documents)
              GROUP BY doc_id, word),
            tw AS (
              SELECT doc_id, list(word ORDER BY cnt DESC, word ASC)[1:20] AS top
              FROM wc GROUP BY doc_id)
            SELECT doc_id,
                   CAST(least(len(list_intersect(top,
                        ['table','join','row','the','value'])), 20) AS INTEGER)
                   AS match_cnt
            FROM tw""",
        "id_feature_multivalue": """
            SELECT p_partkey,
                   CAST(to_json(list_transform(
                     (list_filter(string_split(p_name,' '),
                        t -> NOT list_contains(['of','the'], t)))[1:3],
                     t -> 'nm_' || t)) AS VARCHAR) AS name_keys
            FROM part""",
        "multimodal_decode": """
            SELECT doc_id AS asset_id, 'image' AS kind,
                   CAST(strlen(text) AS INTEGER) AS n_bytes,
                   md5(text) AS payload_hash
            FROM documents""",
        "multimodal_image_decode": """
            SELECT doc_id AS asset_id,
                   CAST(16 + doc_id % 8 AS INTEGER) AS width,
                   CAST(12 + doc_id % 5 AS INTEGER) AS height,
                   round(CAST(doc_id % 251 AS DOUBLE), 6) AS mean_r,
                   round((16 + doc_id % 8 - 1) / 2.0, 6) AS mean_g,
                   round((12 + doc_id % 5 - 1) / 2.0, 6) AS mean_b
            FROM documents""",
        "multimodal_video_decode": """
            SELECT doc_id AS asset_id,
                   CAST(8 + 2*(doc_id % 4) AS INTEGER) AS width,
                   CAST(6 + 2*(doc_id % 3) AS INTEGER) AS height,
                   CAST(4 + doc_id % 4 AS INTEGER) AS n_frames,
                   round(doc_id % 200 + (4 + doc_id % 4 - 1) / 2.0, 6)
                     AS mean_y,
                   CAST(floor((4 + doc_id % 4 + 1) / 2.0) AS INTEGER)
                     AS sampled_frames,
                   round(doc_id % 200
                         + floor((4 + doc_id % 4 + 1) / 2.0) - 1, 6)
                     AS sampled_mean_y
            FROM documents""",
        "streaming_window_counts": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2""",
        "multimodal_jpeg_decode": """
            SELECT doc_id AS asset_id,
                   CAST(16 AS INTEGER) AS width,
                   CAST(16 AS INTEGER) AS height,
                   round((  (128 + 2*((doc_id + 0) % 60 - 30))
                          + (128 + 2*((doc_id + 1) % 60 - 30))
                          + (128 + 2*((doc_id + 2) % 60 - 30))
                          + (128 + 2*((doc_id + 3) % 60 - 30))) / 4.0,
                         6) AS mean_y,
                   CAST(128 + 2*((doc_id + 0) % 60 - 30) AS INTEGER)
                     AS y_first,
                   CAST(128 + 2*((doc_id + 3) % 60 - 30) AS INTEGER)
                     AS y_last
            FROM documents""",
        "multimodal_jpeg_color_decode": """
            SELECT doc_id AS asset_id,
                   CAST(16 AS INTEGER) AS width,
                   CAST(16 AS INTEGER) AS height,
                   round((  (128 + 2*((doc_id + 0) % 60 - 30))
                          + (128 + 2*((doc_id + 1) % 60 - 30))
                          + (128 + 2*((doc_id + 2) % 60 - 30))
                          + (128 + 2*((doc_id + 3) % 60 - 30))) / 4.0,
                         6) AS mean_r,
                   round((  (128 + 2*((doc_id + 0) % 60 - 30))
                          + (128 + 2*((doc_id + 1) % 60 - 30))
                          + (128 + 2*((doc_id + 2) % 60 - 30))
                          + (128 + 2*((doc_id + 3) % 60 - 30))) / 4.0,
                         6) AS mean_g,
                   round((  (128 + 2*((doc_id + 0) % 60 - 30))
                          + (128 + 2*((doc_id + 1) % 60 - 30))
                          + (128 + 2*((doc_id + 2) % 60 - 30))
                          + (128 + 2*((doc_id + 3) % 60 - 30))) / 4.0,
                         6) AS mean_b
            FROM documents""",
        "config_compiled_curation": f"""
            WITH base AS (
              SELECT doc_id, text,
                     regexp_replace(text, '((?:\\S+ ){{7}}\\S+) ',
                                    '\\1.' || chr(10), 'g') AS text_lines,
                     text || ' contact user' || doc_id
                          || '@mail.example.org' AS text_pii
              FROM documents
            ), w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS words
              FROM base
            ), li AS (
              SELECT doc_id,
                     list_filter(string_split(text_lines, chr(10)),
                                 l -> l <> '') AS lines
              FROM base
            ), k AS (
              SELECT doc_id,
                     list_filter(lines, l ->
                       len(list_filter(regexp_split_to_array(l, '\\s+'),
                           x -> x <> '')) >= 3
                       AND regexp_matches(l, '[.!?"]\\s*$')
                       AND NOT (contains(lower(l), 'lorem ipsum')
                                OR contains(lower(l), 'javascript')
                                OR contains(lower(l), '{{')
                                OR contains(lower(l), 'cookie policy'))
                     ) AS kept
              FROM li
            ), lang AS ({lang_trigram.oracle_sql("documents", "doc_id")}),
            m AS (
              SELECT b.doc_id,
                CAST(len(regexp_extract_all(b.text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER)
                  AS n_tokens,
                CAST(len(list_filter(w.words, x -> list_contains(
                     ['the','be','to','of','and','that','have','with'],
                     lower(x)))) AS BIGINT) AS stop_hits,
                CASE WHEN len(w.words) > 0 THEN
                  CAST(coalesce(list_sum(list_transform(w.words,
                       x -> length(x))), 0) AS DOUBLE) / len(w.words)
                ELSE 0.0 END AS mean_wlen,
                CAST(len(k.kept) AS BIGINT) AS kept_lines,
                CAST(len(k.kept) >= 3 AS INTEGER) AS keep_doc,
                CAST(len(regexp_extract_all(b.text_pii,
                     '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}'
                     )) AS BIGINT) AS emails_found,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(b.text_pii,
                      '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}',
                      '<EMAIL>', 'g'),
                    '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
                    '<IP>', 'g'),
                  '\\+?[0-9]{{1,3}}[ \\-][0-9]{{3}}[ \\-][0-9]{{3}}[ \\-]?[0-9]{{0,4}}',
                  '<PHONE>', 'g') AS clean_pii_text,
                lang.lang_pred
              FROM base b
              JOIN w USING (doc_id)
              JOIN k USING (doc_id)
              JOIN lang USING (doc_id)
            )
            SELECT doc_id, n_tokens, stop_hits,
                   round(mean_wlen, 6) AS mean_wlen,
                   kept_lines, keep_doc, emails_found, clean_pii_text,
                   lang_pred
            FROM m
            WHERE keep_doc = 1 AND n_tokens >= 40 AND stop_hits >= 1""",
        "c4_line_filter": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                    '\1.' || chr(10), 'g')
                     || chr(10) || 'this line has no terminal punctuation'
                     || CASE WHEN doc_id % 7 = 0
                        THEN chr(10) || 'lorem ipsum dolor sit amet.'
                        ELSE '' END
                     || chr(10) || 'short line.' AS text
              FROM documents
            ), s AS (
              SELECT doc_id,
                     list_filter(string_split(text, chr(10)),
                                 l -> l <> '') AS lines
              FROM d
            ), k AS (
              SELECT doc_id, lines,
                     list_filter(lines, l ->
                       len(list_filter(regexp_split_to_array(l, '\s+'),
                           w -> w <> '')) >= 3
                       AND regexp_matches(l, '[.!?"]\s*$')
                       AND NOT (contains(lower(l), 'lorem ipsum')
                                OR contains(lower(l), 'javascript')
                                OR contains(lower(l), '{')
                                OR contains(lower(l), 'cookie policy'))
                     ) AS kept
              FROM s
            )
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept_lines,
                   CAST(len(lines) - len(kept) AS BIGINT)
                     AS n_dropped_lines,
                   array_to_string(kept, chr(10)) AS clean_text,
                   CAST(len(kept) >= 3 AS INTEGER) AS keep_doc
            FROM k""",
        "pii_scrub": r"""
            WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id
                     || '@mail.example.org or +1 555-01'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                     || ' from 10.' || (doc_id % 256) || '.0.7 done'
                       AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'
                        )) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'
                        )) AS BIGINT) AS n_ip,
                   CAST(len(regexp_extract_all(text,
                        '\+?[0-9]{1,3}[ \-][0-9]{3}[ \-][0-9]{3}[ \-]?[0-9]{0,4}'
                        )) AS BIGINT) AS n_phone,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g'),
                     '\+?[0-9]{1,3}[ \-][0-9]{3}[ \-][0-9]{3}[ \-]?[0-9]{0,4}',
                     '<PHONE>', 'g') AS scrubbed_text
            FROM d""",
        "multimodal_png_decode": """
            SELECT doc_id AS asset_id,
                   CAST(16 + doc_id % 8 AS INTEGER) AS width,
                   CAST(12 + doc_id % 5 AS INTEGER) AS height,
                   round(CAST(doc_id % 251 AS DOUBLE), 6) AS mean_r,
                   round((16 + doc_id % 8 - 1) / 2.0, 6) AS mean_g,
                   round((12 + doc_id % 5 - 1) / 2.0, 6) AS mean_b
            FROM documents""",
        "quality_gopher_rules": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                    '\1' || chr(10), 'g') AS text
              FROM documents
            ), s AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 w -> w <> '') AS words,
                     list_filter(string_split(text, chr(10)),
                                 l -> l <> '') AS lines
              FROM d
            ), m AS (
              SELECT doc_id,
                CAST(len(words) AS BIGINT) AS n_words,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CASE WHEN len(words) > 0 THEN
                  CAST(coalesce(list_sum(list_transform(words,
                       w -> length(w))), 0) AS DOUBLE) / len(words)
                ELSE 0.0 END AS mean_word_len,
                CASE WHEN len(words) > 0 THEN
                  ( (length(text) - length(replace(text, '#', '')))
                  + (length(text)
                     - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
                  + (length(text) - length(replace(text, '…', ''))) )
                  / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS symbol_word_ratio,
                CASE WHEN len(words) > 0 THEN
                  CAST(len(list_filter(words,
                       w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                  / len(words)
                ELSE 0.0 END AS alpha_word_frac,
                CAST(len(list_filter(words, w -> list_contains(
                     ['the','be','to','of','and','that','have','with'],
                     lower(w)))) AS BIGINT) AS stopword_hits,
                CASE WHEN len(lines) > 0 THEN
                  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                  / len(lines)
                ELSE 0.0 END AS dup_line_frac,
                CASE WHEN coalesce(list_sum(list_transform(lines,
                          l -> length(l))), 0) > 0 THEN
                  CAST(coalesce(list_sum(list_transform(lines,
                       l -> CASE WHEN len(list_filter(lines, y -> y = l)) > 1
                            THEN length(l) ELSE 0 END)), 0) AS DOUBLE)
                  / list_sum(list_transform(lines, l -> length(l)))
                ELSE 0.0 END AS dup_line_char_frac,
                CASE WHEN len(lines) > 0 THEN
                  CAST(len(list_filter(lines, l -> regexp_matches(l,
                       '^\s*([-*•]|•)'))) AS DOUBLE) / len(lines)
                ELSE 0.0 END AS bullet_line_frac,
                CASE WHEN len(lines) > 0 THEN
                  CAST(len(list_filter(lines, l -> regexp_matches(l,
                       '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(lines)
                ELSE 0.0 END AS ellipsis_line_frac
              FROM s
            )
            SELECT doc_id, n_words, n_lines,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(symbol_word_ratio, 6) AS symbol_word_ratio,
                   round(alpha_word_frac, 6) AS alpha_word_frac,
                   stopword_hits,
                   round(dup_line_frac, 6) AS dup_line_frac,
                   round(dup_line_char_frac, 6) AS dup_line_char_frac,
                   round(bullet_line_frac, 6) AS bullet_line_frac,
                   round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
                   CAST(n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_word_ratio <= 0.1
                    AND bullet_line_frac <= 0.9
                    AND ellipsis_line_frac <= 0.3
                    AND alpha_word_frac >= 0.8
                    AND stopword_hits >= 2
                    AND dup_line_frac <= 0.3
                    AND dup_line_char_frac <= 0.2 AS INTEGER)
                     AS passes_gopher
            FROM m""",
        "quality_top_ngram": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x <> '') AS words
              FROM documents
            ), tot AS (
              SELECT doc_id, words,
                     coalesce(list_sum(list_transform(words,
                          x -> length(x))), 0)
                     + greatest(len(words) - 1, 0) AS total_chars
              FROM w
            ), g2 AS (
              SELECT doc_id, total_chars,
                     words[i] || ' ' || words[i+1] AS gram
              FROM tot, unnest(range(1, len(words))) AS t(i)
            ), c2 AS (
              SELECT doc_id, total_chars, gram, count(*) AS cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY count(*) DESC, gram ASC)
                       AS rn
              FROM g2 GROUP BY doc_id, total_chars, gram
            ), t2 AS (
              SELECT doc_id, gram, cnt,
                     cnt * length(gram) / CAST(total_chars AS DOUBLE)
                       AS frac
              FROM c2 WHERE rn = 1
            ), g3 AS (
              SELECT doc_id, total_chars,
                     words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                       AS gram
              FROM tot, unnest(range(1, len(words) - 1)) AS t(i)
            ), c3 AS (
              SELECT doc_id, total_chars, gram, count(*) AS cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY count(*) DESC, gram ASC)
                       AS rn
              FROM g3 GROUP BY doc_id, total_chars, gram
            ), t3 AS (
              SELECT doc_id, gram, cnt,
                     cnt * length(gram) / CAST(total_chars AS DOUBLE)
                       AS frac
              FROM c3 WHERE rn = 1
            )
            SELECT d.doc_id,
                   coalesce(t2.gram, '') AS top_2gram,
                   CAST(coalesce(t2.cnt, 0) AS BIGINT) AS top_2gram_count,
                   round(coalesce(t2.frac, 0.0), 6) AS top_2gram_char_frac,
                   coalesce(t3.gram, '') AS top_3gram,
                   CAST(coalesce(t3.cnt, 0) AS BIGINT) AS top_3gram_count,
                   round(coalesce(t3.frac, 0.0), 6) AS top_3gram_char_frac
            FROM documents d
            LEFT JOIN t2 ON d.doc_id = t2.doc_id
            LEFT JOIN t3 ON d.doc_id = t3.doc_id""",
        "multimodal_wav_decode": """
            SELECT doc_id AS asset_id,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(800 + (doc_id % 5) * 80 AS INTEGER) AS n_frames,
                   round((800 + (doc_id % 5) * 80) / 8000.0, 6) AS duration_s,
                   round(CAST(1000 + (doc_id % 7) * 100 AS DOUBLE), 6) AS rms
            FROM documents""",
        "ewma_decayed_activity": """
            WITH e AS (
              SELECT event_id, user_id, value, epoch(ts) AS tsec,
                     epoch(ts) - min(epoch(ts))
                       OVER (PARTITION BY user_id) AS rel
              FROM events
            )
            SELECT event_id,
                   round(exp(-8.022536812036404e-06 * rel)
                         * sum(exp(8.022536812036404e-06 * rel)) OVER w
                         - 1.0, 6) AS decayed_count,
                   round(exp(-8.022536812036404e-06 * rel)
                         * sum(exp(8.022536812036404e-06 * rel) * value)
                           OVER w
                         - value, 6) AS decayed_value
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
        "sketch_profile_events": """
            WITH s AS (
              SELECT event_type, count(DISTINCT user_id) AS n_sampled
              FROM events
              WHERE substr(md5('theta:' || CAST(user_id AS VARCHAR)), 1, 8)
                    < '40000000'
              GROUP BY event_type
            ), q AS (
              SELECT event_type,
                     count(*) AS n_rows_sampled,
                     quantile_cont(value, 0.5) AS p50_est,
                     quantile_cont(value, 0.95) AS p95_est
              FROM events
              WHERE substr(md5('theta:' || CAST(event_id AS VARCHAR)), 1, 8)
                    < '40000000'
              GROUP BY event_type
            ), x AS (
              SELECT event_type,
                     count(DISTINCT user_id) AS n_exact,
                     quantile_cont(value, 0.5) AS p50_exact,
                     quantile_cont(value, 0.95) AS p95_exact
              FROM events GROUP BY event_type
            )
            SELECT x.event_type,
                   x.n_exact,
                   coalesce(s.n_sampled, 0) AS n_sampled,
                   round(coalesce(s.n_sampled, 0) / 0.25, 6) AS est_distinct,
                   round(x.p50_exact, 6) AS p50_exact,
                   round(x.p95_exact, 6) AS p95_exact,
                   coalesce(q.n_rows_sampled, 0) AS n_rows_sampled,
                   round(q.p50_est, 6) AS p50_est,
                   round(q.p95_est, 6) AS p95_est
            FROM x
            LEFT JOIN s ON x.event_type = s.event_type
            LEFT JOIN q ON x.event_type = q.event_type""",
        "chunk_pack_documents": """
            WITH t AS (
              SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id, source, i - 1 AS chunk_idx,
                     list_slice(toks, (i-1)*32 + 1, (i-1)*32 + 40) AS ctoks
              FROM t, UNNEST(generate_series(1,
                     greatest(1, CAST(ceil((len(toks) - 8) / 32.0) AS INT))
                   )) AS u(i)
            ), r AS (
              SELECT doc_id, source,
                     CAST(chunk_idx AS INTEGER) AS chunk_idx,
                     md5(array_to_string(ctoks, ' ')) AS chunk_md5,
                     CAST(len(ctoks) AS INTEGER) AS chunk_tokens
              FROM c
            ), p AS (
              SELECT *,
                     sum(chunk_tokens) OVER (PARTITION BY source
                         ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - chunk_tokens AS cum_excl
              FROM r
            )
            SELECT doc_id, chunk_idx, chunk_md5, chunk_tokens, source,
                   CAST(floor(cum_excl / 256) AS BIGINT) AS pack_id,
                   CAST(cum_excl - floor(cum_excl / 256) * 256 AS BIGINT)
                     AS pack_offset
            FROM p""",
        "source_jsonl_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events""",
        "source_csv_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events""",
        "source_orc_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events""",
        "compact_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props,
                   strftime(ts, '%Y-%m-%d') AS ds
            FROM events""",
        "source_jsonl_corrupt_audit": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events""",
        "schema_evolution_read": """
            SELECT event_id, ts, user_id, event_type, value,
                   CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-02-01'
                        THEN NULL ELSE props END AS props
            FROM events""",
        "source_csv_corrupt_audit": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events""",
        "embedding_covariance": """
            SELECT i.i, j.j,
                   round(covar_pop(e.embedding[i.i], e.embedding[j.j]), 6)
                     AS cov
            FROM embeddings e
            CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
            CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
            GROUP BY i.i, j.j""",
        "zorder_key": f"""
            WITH s AS (SELECT min(CAST(user_id AS DOUBLE)) AS umn,
                              max(CAST(user_id AS DOUBLE)) AS umx,
                              min(epoch(ts)) AS tmn,
                              max(epoch(ts)) AS tmx
                       FROM events)
            SELECT event_id, {zexpr} AS zkey FROM events, s""",
        "snapshot_isolation_read": """
            SELECT 2 AS version, event_id, event_type, value FROM events
            UNION ALL
            SELECT 3 AS version, event_id, event_type, value FROM events
            WHERE event_type = 'purchase'""",
        # same thirds thresholds (t1 = mx//3, t2 = 2*(mx//3)) the Spark
        # side stages with; the pruned snapshot read must equal the
        # plain range filter over events
        "snapshot_pruned_read": """
            WITH m AS (SELECT max(event_id) AS mx FROM events)
            SELECT event_id, event_type, value FROM events, m
            WHERE event_id BETWEEN (m.mx // 3) + 1 AND 2 * (m.mx // 3)""",
        # appended-after-v1 = everything above the first third
        "snapshot_incremental_read": """
            WITH m AS (SELECT max(event_id) AS mx FROM events)
            SELECT event_id, event_type, value FROM events, m
            WHERE event_id > m.mx // 3""",
        # the same low-eighth box the Spark side plans with (thresholds
        # recomputed from min/max in SQL); the z-order-rewritten pruned
        # read must equal the plain box filter over events
        "snapshot_rewrite_zorder": """
            WITH s AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
                              min(event_id) AS emn, max(event_id) AS emx
                       FROM events)
            SELECT event_id, user_id, event_type, value FROM events, s
            WHERE user_id BETWEEN s.umn AND s.umn + (s.umx - s.umn) // 8
              AND event_id BETWEEN s.emn AND s.emn + (s.emx - s.emn) // 8""",
        # MERGE (purchases doubled under key event_id + shifted 'inserted'
        # views) then DELETE event_id <= t1//2, recomputed relationally
        "snapshot_cow_upsert_delete": """
            WITH m AS (SELECT max(event_id) AS mx FROM events),
            src AS (
              SELECT event_id, 'purchase_v2' AS event_type,
                     value * 2 AS value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT event_id + 10000000, 'inserted', value
              FROM events WHERE event_type = 'view'),
            merged AS (
              SELECT event_id, event_type, value FROM events
              WHERE event_id NOT IN (SELECT event_id FROM src)
              UNION ALL
              SELECT event_id, event_type, value FROM src)
            SELECT event_id, event_type, value FROM merged, m
            WHERE NOT (event_id <= (m.mx // 3) // 2)""",
        "zorder_key3": f"""
            WITH s AS (SELECT min(CAST(user_id AS DOUBLE)) AS umn,
                              max(CAST(user_id AS DOUBLE)) AS umx,
                              min(epoch(ts)) AS tmn,
                              max(epoch(ts)) AS tmx,
                              min(CAST(value AS DOUBLE)) AS vmn,
                              max(CAST(value AS DOUBLE)) AS vmx
                       FROM events)
            SELECT event_id, {zexpr3} AS zkey3 FROM events, s""",
        "audio_spectral": """
            WITH p AS (
              SELECT doc_id,
                     CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 5
                                     WHEN 3 THEN 8 ELSE 10 END AS hp,
                     1000 + (doc_id % 7) * 100 AS amp
              FROM documents)
            SELECT doc_id AS asset_id,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(1600 AS INTEGER) AS n_frames,
                   CAST(1600 / hp - 1 AS INTEGER) AS zcr,
                   round(CAST(amp AS DOUBLE), 6) AS rms,
                   CAST(1600 / (2 * hp) AS INTEGER) AS dominant_bin,
                   round(4000.0 / hp, 6) AS dominant_hz
            FROM p""",
        "config_compiled": """
            SELECT event_id,
                   'et_' || event_type AS et,
                   CAST((CASE WHEN value >= 10 THEN 1 ELSE 0 END)
                      + (CASE WHEN value >= 50 THEN 1 ELSE 0 END)
                      + (CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS vb,
                   'cb_' || event_type || '_' || CAST(user_id AS VARCHAR) AS cb
            FROM events""",
        "raw_multivalue_pad": """
            SELECT p_partkey,
                   CAST(to_json(list_transform([1,2,3,4],
                     i -> coalesce(CAST(length(string_split(p_name,' ')[i])
                                        AS DOUBLE), 0.0))) AS VARCHAR)
                   AS len_vec
            FROM part""",
        "lookup_combo_counts": """
            SELECT p_partkey,
                   'pc_' || CAST(CASE WHEN p_size*100.0 <= 3600 THEN 2 ELSE 1 END
                                 AS VARCHAR) || '_1' AS combo_key
            FROM part""",
        "lookup_combo_simple": """
            SELECT p_partkey,
                   CASE WHEN p_size*200.0 > 3600 THEN NULL
                        ELSE CAST(to_json([
                          'cs_' || cnt || '_x',
                          'cs_' || cnt || '_' || p_brand]) AS VARCHAR)
                   END AS combo_keys
            FROM (SELECT p_partkey, p_size, p_brand,
                         CAST(CASE WHEN p_size*400.0 <= 3600 THEN 2 ELSE 1 END
                              AS VARCHAR) AS cnt
                  FROM part)""",
        "preclick_match_words": """
            WITH wc AS (
              SELECT doc_id, word, count(*) AS cnt
              FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word
                    FROM documents)
              GROUP BY doc_id, word),
            tw AS (
              SELECT doc_id, list(word ORDER BY cnt DESC, word ASC)[1:20] AS top
              FROM wc GROUP BY doc_id)
            SELECT doc_id,
                   CAST(to_json(list_transform(
                     (list_filter(top, w -> list_contains(
                        ['table','join','row','the','value'], w)))[1:20],
                     w -> 'pm_' || w)) AS VARCHAR) AS hit_keys
            FROM tw""",
        "match_cross": """
            SELECT c_custkey,
                   CAST(to_json(['mc_seg_x_' || c_mktsegment,
                    'mc_seg_y_' || c_mktsegment]) AS VARCHAR) AS cross_keys
            FROM customer""",
        "lookup_v1_weighting": """
            SELECT p_partkey,
                   CAST(to_json(['lw_size']) AS VARCHAR) AS w_keys,
                   CAST(to_json([CAST(p_size AS DOUBLE)]) AS VARCHAR) AS w_vals
            FROM part""",
        "normalizer_log10": """
            SELECT o_orderkey,
                   round(CASE WHEN o_totalprice > 100.0 THEN log10(o_totalprice)
                              ELSE -1.0 END, 6) AS log_price
            FROM orders""",
        "normalizer_minmax": """
            SELECT l_orderkey, l_linenumber,
                   round((l_quantity - 1.0) / 49.0, 6) AS qty_mm
            FROM lineitem""",
        "overlap_divided": """
            SELECT doc_id,
                   'ov_' || coalesce(array_to_string(
                     list_filter(['spark','join','scan','window'],
                       t -> list_contains(string_split(text,' '), t)), '_'), '')
                   AS common_key,
                   'dv_' || coalesce(array_to_string(
                     list_filter(['spark','join','scan','window'],
                       t -> NOT list_contains(string_split(text,' '), t)), '_'), '')
                   AS diff_key
            FROM documents""",
        "kgb_grouped_bytes": """
            SELECT p_partkey,
                   'kb_' || CASE WHEN p_size % 2 = 0
                     THEN CAST(p_size AS VARCHAR) || ';'
                          || CAST(72057594037927936 + p_size % 7 AS VARCHAR)
                          || ';;'
                     ELSE CAST(72057594037927936 + p_size % 7 AS VARCHAR)
                          || ';;'
                   END AS grouped
            FROM part""",
        "kgb_hit_ret_combo": """
            SELECT p_partkey,
                   CAST(to_json(['kr_' || c || '_x',
                                 'kr_' || c || '_' || p_brand]) AS VARCHAR)
                   AS hit_keys
            FROM (SELECT p_partkey, p_brand,
                         CASE WHEN p_size < 25 THEN '0' ELSE '1' END AS c
                  FROM part)""",
        "normalizer_bound_regular": """
            SELECT l_orderkey, l_linenumber,
                   round((ln(least(greatest(l_quantity, 5.0) + 1.0, 40.0))
                          - 1.0) / 2.0, 6) AS qty_br
            FROM lineitem""",
        "match_weighting": """
            SELECT c_custkey,
                   CASE WHEN c_mktsegment = 'BUILDING'
                        THEN 'mw_seg_BUILDING' END AS w_key,
                   CASE WHEN c_mktsegment = 'BUILDING'
                        THEN CAST(c_nationkey AS DOUBLE) END AS w_weight
            FROM customer""",
        "combo_sorted_pruneright": """
            SELECT p_partkey,
                   CAST(to_json(list_transform(
                     list_sort(list_distinct(list_transform(
                       string_split(p_name,' ')[-2:],
                       w -> w || '_' || p_brand))),
                     x -> 'cs_' || x)) AS VARCHAR) AS sorted_keys
            FROM part""",
        "preclick_decode_kv": """
            SELECT doc_id,
                   CAST(to_json(list_transform(
                     list_sort([lang, source]),
                     w -> 'pd_' || w)) AS VARCHAR) AS decoded_keys
            FROM documents""",
        "asof_pandas_parity": """
            SELECT e.event_id, round(p.pv, 4) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, max(value) AS pv FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) p ON e.user_id = p.user_id AND e.ts > p.ts""",
        "lookup_gap_max_kernel": """
            WITH w AS (
              SELECT event_id, epoch(ts) AS now,
                     min(epoch(ts)) OVER (PARTITION BY user_id, event_type
                          ORDER BY epoch(ts)
                          RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
                     AS min_ts,
                     count(*) OVER (PARTITION BY user_id, event_type
                          ORDER BY epoch(ts)
                          RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) - 1
                     AS n_prior
              FROM events)
            SELECT event_id,
                   CAST(CASE
                     WHEN n_prior = 0 THEN 0
                     WHEN now - (now - min_ts) <= 0.0001 THEN 0
                     WHEN now - min_ts <= 60 THEN 1
                     WHEN now - min_ts < 300 THEN 2
                     WHEN now - min_ts < 600 THEN 3
                     WHEN now - min_ts < 1800 THEN 4
                     WHEN now - min_ts < 3600 THEN 5
                     WHEN now - min_ts < 21600 THEN 6
                     WHEN now - min_ts < 43200 THEN 7
                     ELSE 8 END AS DOUBLE) AS since_oldest_same_type
            FROM w""",
    } | {
        # the chunked skew-parallel variants are DEFINED as equal to the
        # standard queries — same oracle SQL verbatim, so the gate itself
        # proves chunked == unchunked (plans/skew.py exactness argument).
        "rolling_count_1h_chunked": """
            SELECT event_id,
                   CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) - 1 AS DOUBLE)
                   AS prior_cnt_1h
            FROM events""",
        "sessionize_30m_chunked": f"""
            SELECT event_id,
                   CAST(sum(CASE WHEN g IS NULL OR g > 1800 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_idx
            FROM (SELECT *, {gap} AS g FROM events)""",
        "asof_last_purchase_chunked": """
            SELECT e.event_id, round(p.pv, 4) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, max(value) AS pv FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) p ON e.user_id = p.user_id AND e.ts > p.ts""",
        "backfill_purchase_chunked": """
            SELECT event_id,
                   round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                                    IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS last_purchase_ffill
            FROM events""",
        # the ROUTED forms (plans/skew.py:asof_join_auto / backfill_auto —
        # what the flagship snapshot join and job.py call) reuse the
        # standard queries' oracle SQL verbatim at a threshold that puts
        # real rows through BOTH branches: the gate proves routed ==
        # unrouted.
        "asof_snapshot_auto": """
            SELECT e.event_id, round(p.pv, 4) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, max(value) AS pv FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) p ON e.user_id = p.user_id AND e.ts > p.ts""",
        "backfill_purchase_auto": """
            SELECT event_id,
                   round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                                    IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS last_purchase_ffill
            FROM events""",
    }
    # incremental CC is provably identical to from-scratch CC over the
    # union edge set (contraction preserves connectivity; labels are
    # component minima), so its oracle is the full-CC SQL verbatim — the
    # gate itself proves incremental == full.
    sql["dedup_cc_incremental"] = sql["dedup_connected_components"]
    # remediation composes the gate-proven CC closure with a winner rule
    sql["dedup_keep_best"] = f"""
        WITH cc AS ({sql["dedup_connected_components"]}),
        j AS (SELECT d.doc_id, d.n_chars, cc.component
              FROM documents d LEFT JOIN cc USING (doc_id)),
        w AS (SELECT component, doc_id AS keep_id FROM (
                SELECT component, doc_id,
                       row_number() OVER (PARTITION BY component
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM j WHERE component IS NOT NULL) WHERE rn = 1)
        SELECT j.doc_id, j.component,
               CAST(coalesce(j.doc_id = w.keep_id, TRUE) AS INTEGER) AS kept
        FROM j LEFT JOIN w USING (component)"""
    # bucketed layout changes the physical plan, never the values
    sql["rolling_count_bucketed"] = sql["rolling_count_1h"]
    # the streaming ingest path must equal the batch daily-ingest path
    sql["streaming_dedup_parity"] = sql["dedup_incremental"]
    # declared pipeline == the operators' oracles composed in order
    from featuregenerator_spark.operators.sampling import (
        DEMO_DEFAULT_RATE as _MIX_DEFAULT,
    )
    from featuregenerator_spark.operators.sampling import (
        rates_values_sql as _rates_sql,
    )
    from featuregenerator_spark.operators.sampling import (
        split_rate as _split_rate,
    )

    _dbase, _dthresh = _split_rate(_MIX_DEFAULT)
    sql["config_compiled_mix"] = f"""
        WITH lmq AS ({sql["quality_lm_perplexity"]}),
        pr AS (
          SELECT doc_id, idx, para,
                 row_number() OVER (PARTITION BY para
                     ORDER BY doc_id, idx) AS rn
          FROM (SELECT doc_id, i - 1 AS idx, parts[i] AS para
                FROM (SELECT doc_id,
                             list_filter(string_split(text, chr(10)),
                                         x -> x <> '') AS parts
                      FROM documents),
                     UNNEST(generate_series(1, len(parts))) AS u(i))),
        parq AS (
          SELECT doc_id,
                 coalesce(array_to_string(
                     list(para ORDER BY idx) FILTER (WHERE rn = 1),
                     chr(10)), '') AS ct,
                 round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*), 4) AS frac
          FROM pr GROUP BY doc_id),
        bs AS (
          SELECT d.doc_id, d.source,
                 lmq.lm_logppl AS ppl, lmq.ppl_bucket AS ppl_bucket,
                 lmq.keep AS ppl_keep,
                 coalesce(parq.ct, '') AS text_nodup,
                 coalesce(parq.frac, 0.0) AS nodup_frac
          FROM documents d JOIN lmq USING (doc_id)
               LEFT JOIN parq USING (doc_id)
          WHERE lmq.keep = 1),
        r(source, base, thresh) AS {_rates_sql()},
        mixd AS (
          SELECT bs.*,
                 coalesce(r.base, {_dbase}) +
                 CASE WHEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                  1, 8) < coalesce(r.thresh, '{_dthresh}')
                      THEN 1 ELSE 0 END AS copies
          FROM bs LEFT JOIN r USING (source))
        SELECT doc_id, source, ppl, ppl_bucket, ppl_keep, text_nodup,
               nodup_frac, CAST(u.i AS INTEGER) AS copy_idx
        FROM mixd, UNNEST(generate_series(1, copies)) AS u(i)"""
    # config_compiled_temporal: the FOUR standard window oracles composed
    # verbatim as CTEs — the gate itself proves the JSON-declared pipeline
    # (spec.compile_pipeline) equals the hand-built queries.
    # streaming_sessionize_parity: the batch sessionize_30m oracle composed
    # verbatim as a CTE, re-aggregated per session — the gate itself proves
    # the streaming session_window operator equals the batch formulation.
    sql["streaming_sessionize_parity"] = f"""
        WITH ss AS ({sql["sessionize_30m"]})
        SELECT e.user_id, ss.session_idx,
               CAST(count(*) AS BIGINT) AS n_events,
               min(e.event_id) AS min_event_id,
               max(e.event_id) AS max_event_id
        FROM events e JOIN ss ON e.event_id = ss.event_id
        GROUP BY e.user_id, ss.session_idx"""
    # interval_session_assign: the NAIVE BETWEEN range join over the same
    # sessionize-composed +/-2000s windows — the gate proves the bucketed
    # range join (plans/interval.py) equals the naive formulation.
    sql["interval_session_assign"] = f"""
        WITH ss AS ({sql["sessionize_30m"]}),
             b AS (
               SELECT e.user_id, ss.session_idx,
                      min(epoch(e.ts)) - 2000 AS win_start,
                      max(epoch(e.ts)) + 2000 AS win_end
               FROM events e JOIN ss ON e.event_id = ss.event_id
               GROUP BY e.user_id, ss.session_idx)
        SELECT e.event_id, b.session_idx AS matched_session
        FROM events e
        JOIN b ON e.user_id = b.user_id
              AND epoch(e.ts) BETWEEN b.win_start AND b.win_end"""
    # config_compiled_chunks: the chunk_pack oracle with the declared row
    # filter applied at its scan CTE (the SQL's single `FROM documents`) —
    # the gate proves the JSON-declared filter->chunk->pack pipeline
    # equals the hand-built operators.
    sql["config_compiled_chunks"] = sql["chunk_pack_documents"].replace(
        "FROM documents", "FROM documents WHERE n_chars >= 100", 1
    )
    # streaming_decayed_parity: the batch EWMA oracle composed verbatim —
    # the gate itself proves the O(1)-state streaming EWMA equals the
    # batch range-frame window formulation.
    sql["streaming_decayed_parity"] = f"""
        WITH x AS ({sql["ewma_decayed_activity"]})
        SELECT event_id, decayed_count FROM x"""
    sql["config_compiled_temporal"] = f"""
        WITH gp AS ({sql["gap_seconds"]}),
             rc AS ({sql["rolling_count_1h"]}),
             rs AS ({sql["rolling_sum_24h"]}),
             ss AS ({sql["sessionize_30m"]})
        SELECT gp.event_id, gp.gap_seconds, rc.prior_cnt_1h,
               rs.sum_value_24h, ss.session_idx
        FROM gp
        JOIN rc USING (event_id)
        JOIN rs USING (event_id)
        JOIN ss USING (event_id)"""
    return sql
