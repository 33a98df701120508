"""The three workloads: single-client closed loops over the program's
public functions, each with its staging, timed step and output checks.

A workload object holds one run's state. The runner calls, in order:
``generate`` (cached, untimed), ``stage`` once per set-up repetition,
``warmup``, ``step`` until the timed phase is over, then ``check``.
Every op goes through ``Run.op``, which gives it a Spark job group, a
span, a wall time, and counts it as attempted and, if it raised or its
output check failed, as failed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

DAY = dt.timedelta(days=1)


def iso_day(ds: str) -> dt.datetime:
    return dt.datetime.fromisoformat(ds)


def trailing_week(ds: str) -> tuple[dt.datetime, dt.datetime]:
    """[00:00 six days before ``ds``, end of ``ds``] as naive UTC bounds."""
    hi = iso_day(ds) + DAY - dt.timedelta(microseconds=1)
    return iso_day(ds) - 6 * DAY, hi


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if os.path.isfile(os.path.join(path, n))
    )


def newest_manifest_bytes(table_base: str) -> int:
    meta = os.path.join(table_base, "metadata")
    versions = [
        int(n[1:-5]) for n in os.listdir(meta)
        if n.startswith("v") and n.endswith(".json")
    ]
    return os.path.getsize(os.path.join(meta, f"v{max(versions)}.json"))


class Workload:
    """Base: subclasses set ``name``/``primary`` and implement the hooks.

    ``primary`` is the op kind whose walls give ``op_p50_s`` and whose
    Spark jobs give the per-op ``spark.*`` layer metrics."""

    name = ""
    READS = 3  # read ops per timed iteration: short ops, so more samples
    primary = "op"
    rows_kind = "op"  # op kind whose row counts make rows_per_s
    pair_join = False  # count the output rows of the plan's join nodes

    def __init__(self, run):
        self.run = run
        self.spark = None

    # -- hooks ------------------------------------------------------------
    def generate(self, cache_dir: str, seed: int) -> None:
        raise NotImplementedError

    def stage(self, spark, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self) -> bool:
        """One timed iteration; False when the inputs are used up."""
        raise NotImplementedError

    def check(self) -> None:
        """Checks left for after the timed phase (default: none; an op
        that checks its own output needs none)."""

    def wrap(self, tracer) -> None:
        """Traced run only: spans around the program's entry points."""
        from featuregenerator_spark.plans import pipeline
        from featuregenerator_spark.sources.snapshots import SnapshotTable

        def files(attrs, out):
            attrs["kept"], attrs["pruned"] = len(out[0]), len(out[1])

        tracer.wrap(SnapshotTable, "plan_files", "snapshots.plan_files", files)
        tracer.wrap(SnapshotTable, "commit_append", "snapshots.commit_append")
        tracer.wrap(pipeline, "build_turn_features", "pipeline.build")

    def table_bytes(self) -> tuple[int, int]:
        """(newest manifest bytes, metadata bytes per timed commit)."""
        return 0, 0


# ---------------------------------------------------------------- backfill


class Backfill(Workload):
    """Full-history point-in-time pass with the as-of snapshot join, read
    through ``SnapshotTable.read()`` and written to the ``noop`` sink."""

    name = "backfill"
    SHAPE = dict(n_days=4, convs_per_day=1000, mean_turns=20,
                 hot_turns_per_day=1000)
    N_SAMPLE = 12

    def generate(self, cache_dir, seed):
        self.seed = seed
        self.src = gen.cached(cache_dir, "backfill", seed, self.SHAPE,
                              gen.transcripts_with_snapshots)
        self.n_rows = pq.read_metadata(
            os.path.join(self.src, "transcripts.parquet")).num_rows
        days = pq.read_table(os.path.join(self.src, "transcripts.parquet"),
                             columns=["ds"]).column("ds")
        self.last_day = pc.max(days).as_py()

    def stage(self, spark, rep):
        from featuregenerator_spark.sources.snapshots import SnapshotTable

        self.spark = spark
        base = os.path.join(self.run.dir, f"stage{rep}")
        self.turns = SnapshotTable(spark, f"{base}/transcripts")
        self.turns.commit_append(
            spark.read.parquet(os.path.join(self.src, "transcripts.parquet")))
        self.snaps = SnapshotTable(spark, f"{base}/snapshots")
        self.snaps.commit_append(
            spark.read.parquet(os.path.join(self.src, "snapshots.parquet")))

    def features(self):
        from featuregenerator_spark.plans import pipeline
        from featuregenerator_spark.plans.temporal import with_ts_seconds

        return pipeline.build_turn_features(
            with_ts_seconds(self.turns.read()), snapshots=self.snaps.read()
        )

    def backfill_op(self):
        feat = self.features()
        with self.run.tracer.span("sink"):
            feat.write.format("noop").mode("overwrite").save()
        return self.n_rows

    def read_op(self):
        from pyspark.sql import functions as F

        lo, hi = trailing_week(self.last_day)
        df = self.turns.read(where=[("ts", "between", lo, hi)])
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.length("text")).alias("chars")).first()
        if row["n"] != self.n_rows:  # the week covers the whole history
            raise AssertionError(f"read {row['n']} rows, want {self.n_rows}")
        return row["n"]

    def warmup(self):
        self.run.op("warm", self.backfill_op)
        self.run.op("warm_read", self.read_op)
        self.run.op("check", self.check_op)

    def step(self):
        self.run.op("op", self.backfill_op, rows=True)
        for _ in range(self.READS):
            self.run.op("read", self.read_op)
        return True

    def check_op(self):
        """One more execution of the public call; collects the sampled
        conversations plus every row that leaks (as-of ts not before the
        turn's ts) in one action, then compares with the pandas oracle."""
        from pyspark.sql import functions as F

        table = pq.read_table(os.path.join(self.src, "transcripts.parquet"))
        convs = sorted(set(table.column("conv_id").to_pylist()) - {"hot"})
        sample = random.Random(self.seed).sample(convs, self.N_SAMPLE)
        feat = self.features()
        leak = F.col("asof_ts") >= F.col("ts_sec")
        got = feat.filter(F.col("conv_id").isin(sample) | leak).select(
            "conv_id", "turn_idx", "ts_sec", "turns_prior_3600s",
            "turns_prior_86400s", "tool_calls_prior_3600s",
            "tool_calls_prior_86400s", "session_idx", "asof_ts",
            F.map_entries("feature_state").alias("fs"),
        ).collect()
        leaks = [r for r in got if r["asof_ts"] is not None
                 and r["asof_ts"] >= r["ts_sec"]]
        if leaks:
            raise AssertionError(f"{len(leaks)} rows see a future snapshot")
        snaps = pq.read_table(os.path.join(self.src, "snapshots.parquet"))
        want = oracle_features(table, snaps, sample)
        have = {
            (r["conv_id"], r["turn_idx"]): (
                r["turns_prior_3600s"], r["turns_prior_86400s"],
                r["tool_calls_prior_3600s"], r["tool_calls_prior_86400s"],
                r["session_idx"], r["asof_ts"],
                None if r["fs"] is None else {e["key"]: e["value"] for e in r["fs"]},
            )
            for r in got if r["conv_id"] in set(sample)
        }
        if have != want:
            bad = sorted(k for k in want if have.get(k) != want[k])[:3]
            raise AssertionError(
                f"oracle mismatch on {len(bad)}+ rows, e.g. "
                f"{[(k, have.get(k), want[k]) for k in bad]}")
        return len(have)

    def table_bytes(self):
        return newest_manifest_bytes(self.turns.base), 0


def oracle_features(table, snaps, sample) -> dict:
    """The pandas-kernel oracle for the sampled conversations."""
    from featuregenerator_spark.oracle.pandas_kernels import (
        asof_values,
        rolling_count_per_user,
        sessionize_rows,
    )

    out = {}
    for conv in sample:
        rows = table.filter(pc.equal(table.column("conv_id"), conv)).to_pylist()
        for r in rows:
            r["ts_sec"] = r["ts"].timestamp()
        rows.sort(key=lambda r: (r["ts_sec"], r["turn_idx"]))
        srows = snaps.filter(pc.equal(snaps.column("conv_id"), conv)).to_pylist()
        right = [(s["snap_ts"].timestamp(), (s["snap_ts"].timestamp(),
                  dict(s["feature_state"]))) for s in srows]
        is_tool = lambda r: r["role"] == "tool"  # noqa: E731
        cols = [
            rolling_count_per_user(rows, 3600.0),
            rolling_count_per_user(rows, 86400.0),
            rolling_count_per_user(rows, 3600.0, is_tool),
            rolling_count_per_user(rows, 86400.0, is_tool),
            sessionize_rows([r["ts_sec"] for r in rows], 1800.0),
        ]
        for i, r in enumerate(rows):
            hit = asof_values(r["ts_sec"], right, strict=True)
            out[(conv, r["turn_idx"])] = (
                *[c[i] for c in cols],
                None if hit is None else hit[0],
                None if hit is None else hit[1],
            )
    return out


# ------------------------------------------------------------ daily_ingest


class DailyIngest(Workload):
    """``job.main`` for one ``ds`` per op, snapshot in and out, then a
    trailing-week training read of the output table."""

    name = "daily_ingest"
    primary = "day"
    rows_kind = "day"
    SHAPE = dict(n_days=16, convs_per_day=200, mean_turns=20,
                 hot_turns_per_day=1000)
    HISTORY = 1  # days staged before the first op: the warm op's day
    READS = 2  # fewer reads per day than the base: more day ops per run
    WARM_DAYS = 3  # untimed day ops before the timed phase

    def generate(self, cache_dir, seed):
        self.src = os.path.join(
            gen.cached(cache_dir, "daily", seed, self.SHAPE, gen.transcripts),
            "transcripts.parquet")
        ds = pq.read_table(self.src, columns=["ds"]).column("ds")
        counts = pc.value_counts(ds).to_pylist()
        self.day_rows = {c["values"]: c["counts"] for c in counts}
        self.days = sorted(self.day_rows)

    def stage(self, spark, rep):
        from pyspark.sql import functions as F

        from featuregenerator_spark.sources.snapshots import SnapshotTable

        self.spark = spark
        base = os.path.join(self.run.dir, f"stage{rep}")
        self.in_base, self.out_base = f"{base}/in", f"{base}/out"
        self.inp = SnapshotTable(spark, self.in_base, stats_cols=["ds"])
        self.src_df = spark.read.parquet(self.src)
        for d in self.days[: self.HISTORY]:
            self.inp.commit_append(self.src_df.filter(F.col("ds") == d),
                                   summary={"partition_key": d})
        self.landed = self.HISTORY
        self.committed: list[str] = []

    def wrap(self, tracer):
        super().wrap(tracer)
        from featuregenerator_spark import job

        tracer.wrap(job, "build_turn_features", "pipeline.build")

    def land(self) -> str:
        """The next input day arrives (not part of any timed op)."""
        from pyspark.sql import functions as F

        d = self.days[self.landed]
        self.landed += 1
        self.run.op("land", lambda: self.inp.commit_append(
            self.src_df.filter(F.col("ds") == d), summary={"partition_key": d}))
        return d

    def day_op(self, ds: str):
        from featuregenerator_spark import job

        argv = ["--input", self.in_base, "--output", self.out_base,
                "--input-format", "snapshot", "--output-format", "snapshot",
                "--ds-from", ds, "--ds-to", ds, "--app-name", "perfbench"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = job.main(argv)
        rec = json.loads(buf.getvalue().strip().splitlines()[-1])
        if rc != 0 or rec["new_units"] != 1:
            raise AssertionError(f"day {ds}: rc={rc}, report {rec}")
        self.committed.append(ds)
        return self.day_rows[ds]

    def read_op(self, ds: str):
        from pyspark.sql import functions as F

        from featuregenerator_spark.sources.snapshots import SnapshotTable

        lo, hi = trailing_week(ds)
        df = SnapshotTable(self.spark, self.out_base).read(
            where=[("ts", "between", lo, hi)])
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("turns_prior_86400s").alias("s")).first()
        want = sum(self.day_rows[d] for d in self.committed
                   if lo <= iso_day(d) <= hi)
        if row["n"] != want:
            raise AssertionError(f"read {row['n']} rows, want {want}")
        return row["n"]

    def iteration(self, kind: str) -> None:
        ds = self.days[self.landed - 1]
        self.run.op(kind, lambda: self.day_op(ds), rows=kind == "day")
        if kind == "warm":
            self.run.op("warm_read", lambda: self.read_op(ds))
            return
        for _ in range(self.READS):
            self.run.op("read", lambda: self.read_op(ds))

    def warmup(self):
        # a day op keeps getting faster over its first few executions
        # (JIT of the driver's planning paths); time only settled ones
        self.iteration("warm")
        for _ in range(self.WARM_DAYS - 1):
            self.land()
            self.iteration("warm")
        self.meta_before = dir_bytes(os.path.join(self.out_base, "metadata"))

    def step(self):
        if self.landed >= len(self.days):
            return False
        self.land()
        self.iteration("day")
        return True

    def check(self):
        self.run.op("check", self.check_op)

    def check_op(self):
        """Every day committed exactly once; committed rows equal a
        one-shot run over those days (session numbering excepted)."""
        from pyspark.sql import functions as F

        from featuregenerator_spark.plans.pipeline import (
            FEATURE_COLUMNS,
            build_turn_features,
        )
        from featuregenerator_spark.plans.temporal import with_ts_seconds
        from featuregenerator_spark.sources.snapshots import SnapshotTable

        out = SnapshotTable(self.spark, self.out_base)
        keys = Counter(s.get("partition_key") for s in out.committed_summaries())
        if sorted(keys) != sorted(self.committed) or max(keys.values()) != 1:
            raise AssertionError(f"committed keys {dict(keys)}")
        cols = [c for c in FEATURE_COLUMNS if not c.startswith("session")]
        last = max(self.committed)
        oneshot = build_turn_features(
            with_ts_seconds(self.src_df.filter(F.col("ds") <= last)),
            gap_horizon_seconds=86400.0,
        ).filter(F.col("ds").isin(self.committed)).select(*cols)
        got = out.read().select(*cols)
        # one action: rows whose multiplicity differs between the sides
        diff = (
            got.withColumn("__side", F.lit(1))
            .unionByName(oneshot.withColumn("__side", F.lit(-1)))
            .groupBy(*cols)
            .agg(F.sum("__side").alias("__d"), F.count(F.lit(1)).alias("__n"))
            .agg(F.count(F.when(F.col("__d") != 0, 1)).alias("bad"),
                 F.sum("__n").alias("rows"))
            .first()
        )
        want = 2 * sum(self.day_rows[d] for d in self.committed)
        if diff["bad"] or diff["rows"] != want:
            raise AssertionError(
                f"{diff['bad']} rows differ from the one-shot run, "
                f"{diff['rows']} rows on both sides, want {want}")
        return diff["rows"] // 2

    def table_bytes(self):
        n_timed = len(self.run.ops_of("day"))
        grown = dir_bytes(os.path.join(self.out_base, "metadata")) - self.meta_before
        return newest_manifest_bytes(self.out_base), grown / max(n_timed, 1)


# ---------------------------------------------------------------- neardup


def spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


class NearDup(Workload):
    """The exact token-Jaccard self-join, called by its registry name."""

    name = "neardup"
    pair_join = True
    QUERY = "neardup_token_jaccard"
    SHAPE = dict(n_base=1200, cluster_rate=0.1, cluster_size=4,
                 vocab=20000, langs=4, edit_rate=0.04)
    N_SAMPLE = 150
    N_SAMPLE_CLUSTERS = 20

    def generate(self, cache_dir, seed):
        self.seed = seed
        self.sf_dir = gen.cached(cache_dir, "corpus", seed, self.SHAPE, gen.corpus)
        self.docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        self.n_rows = self.docs.num_rows
        self.expected_subset()

    def expected_subset(self):
        """Brute-force pairs over a sample (random docs plus whole planted
        clusters) and every planted pair that clears the threshold."""
        ids = self.docs.column("doc_id").to_pylist()
        text = dict(zip(ids, self.docs.column("text").to_pylist()))
        lang = dict(zip(ids, self.docs.column("lang").to_pylist()))
        planted = pq.read_table(os.path.join(self.sf_dir, "planted.parquet"))
        clusters: dict[int, list[int]] = {}
        for d, c in zip(planted.column("doc_id").to_pylist(),
                        planted.column("cluster").to_pylist()):
            clusters.setdefault(c, []).append(d)
        rng = random.Random(self.seed)
        sample = set(rng.sample(ids, self.N_SAMPLE))
        for c in rng.sample(sorted(clusters), min(self.N_SAMPLE_CLUSTERS, len(clusters))):
            sample.update(clusters[c])
        self.sample = sample

        def pairs(docs):
            docs = sorted(docs)
            out = set()
            for i, a in enumerate(docs):
                for b in docs[i + 1:]:
                    if lang[a] == lang[b]:
                        j = spark_round4(jaccard(text[a], text[b]))
                        if j >= 0.8:
                            out.add((a, b, j))
            return out

        self.want_sample = pairs(sample)
        self.want_planted = set().union(*(pairs(m) for m in clusters.values()))
        self.n_planted_pairs = sum(len(m) * (len(m) - 1) // 2
                                   for m in clusters.values())

    def stage(self, spark, rep):
        import __spark_entry__

        self.spark = spark
        with self.run.tracer.span("registry.lookup"):
            self.query = __spark_entry__.queries()[self.QUERY]
        n = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).count()
        if n != self.n_rows:
            raise AssertionError(f"corpus has {n} docs, want {self.n_rows}")

    def wrap(self, tracer):
        pass  # the query touches neither snapshots nor the pipeline

    def pair_op(self):
        with self.run.tracer.span("sink"):
            got = {(r["doc_a"], r["doc_b"], r["jaccard"])
                   for r in self.query(self.spark, self.sf_dir).collect()}
        sub = {p for p in got if p[0] in self.sample and p[1] in self.sample}
        if sub != self.want_sample:
            raise AssertionError(
                f"sample pairs differ: {len(sub - self.want_sample)} extra, "
                f"{len(self.want_sample - sub)} missing")
        if not self.want_planted <= got:
            raise AssertionError(
                f"{len(self.want_planted - got)} planted pairs not recovered")
        self.run.note(output_pairs=len(got))
        return self.n_rows

    def read_op(self):
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.length("text")).alias("chars")).first()
        if row["n"] != self.n_rows:
            raise AssertionError(f"read {row['n']} docs, want {self.n_rows}")
        return row["n"]

    def warmup(self):
        self.run.op("warm", self.pair_op)
        self.run.op("warm_read", self.read_op)

    def step(self):
        self.run.op("op", self.pair_op, rows=True)
        for _ in range(self.READS):
            self.run.op("read", self.read_op)
        return True


WORKLOADS = {w.name: w for w in (Backfill, DailyIngest, NearDup)}
