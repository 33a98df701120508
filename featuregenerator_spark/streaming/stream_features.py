"""Streaming turn-feature computation (online path).

The reference's online serving path evaluates kernels per request batch;
the Spark-native analogue is a Structured Streaming job over the same
transcript schema:

  - watermarked event time (late turns tolerated up to the watermark);
  - windowed rolling counts via ``F.window`` tumbling/sliding aggregates;
  - gap-based sessions via ``F.session_window`` (native gap sessionization);
  - arbitrary per-conversation state (e.g. running feature snapshots) via
    ``applyInPandasWithState`` when expressible aggregates don't suffice.

Batch/stream parity: these produce the same feature values as
plans/temporal.py for on-time data; tests drive a parquet-backed stream
to completion with processAllAvailable() and compare against the batch
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def rolling_turn_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window turn/tool counts per conversation (append mode)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("turns_in_window"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias(
                "tool_calls_in_window"
            ),
            F.avg(F.length("text")).alias("avg_text_len"),
        )
    )


def session_aggregates(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native gap sessionization: one row per closed session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("session_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "session_turns",
            "first_turn",
            "last_turn",
        )
    )


SNAPSHOT_STATE_DDL = "n_turns long, last_ts double"
SNAPSHOT_OUT_DDL = (
    "conv_id string, turn_idx int, n_prior_turns long, gap_seconds double"
)


def running_snapshot_features(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-
    conversation running feature snapshot (prior-turn count + gap to the
    previous turn), carried across micro-batches.

    This is the streaming analogue of the batch as-of/backfill lift —
    state is the "latest feature snapshot" each new turn joins against.
    Turns inside a batch are processed in (turn_idx, ts) order; state is
    (n_turns_seen, last_ts). Output is one row per input turn, exactly
    matching plans/temporal.py's with_gap + rolling count over an
    unbounded window for in-order data.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (conv_id,) = key
        if state.exists:
            n_turns, last_ts = state.get
        else:
            n_turns, last_ts = 0, None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["turn_idx", "ts"])
            ts_sec = pdf["ts"].map(lambda t: t.timestamp())
            prior = n_turns + pd.RangeIndex(len(pdf))
            prev_ts = ts_sec.shift(1)
            if last_ts is not None:
                prev_ts.iloc[0] = last_ts
            out.append(
                pd.DataFrame(
                    {
                        "conv_id": conv_id,
                        "turn_idx": pdf["turn_idx"],
                        "n_prior_turns": prior,
                        "gap_seconds": ts_sec - prev_ts,
                    }
                )
            )
            n_turns += len(pdf)
            last_ts = float(ts_sec.iloc[-1]) if len(pdf) else last_ts
        state.update((n_turns, last_ts))
        yield from out

    return stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=SNAPSHOT_OUT_DDL,
        stateStructType=SNAPSHOT_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
EVENT_STATE_DDL = "n_events long, last_ts double"
EVENT_OUT_DDL = "event_id long, n_prior_events long, gap_seconds double"


def _stage_single_file(path: str) -> str:
    """FileStreamSource streams DIRECTORIES; the driver's test tables
    are single files, so stage a copy under a DETERMINISTIC temp dir
    keyed by (path, mtime, size) — reused across calls in the same
    round instead of leaking one mkdtemp per invocation, and
    invalidated automatically when the input file changes."""
    import hashlib
    import os
    import shutil
    import tempfile

    if not os.path.isfile(path):
        return path
    st = os.stat(path)
    sig = hashlib.sha256(
        f"{os.path.abspath(path)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    staged = os.path.join(tempfile.gettempdir(), f"fg_stream_src_{sig}")
    staged_file = os.path.join(staged, os.path.basename(path))
    if not os.path.isfile(staged_file):
        os.makedirs(staged, exist_ok=True)
        shutil.copy(path, staged_file)
    return staged


def read_event_stream(
    spark, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_stage_single_file(path))
    )


DOCS_DDL = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_document_stream(
    spark, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_stage_single_file(path))
    )


def incremental_dedup_stream(
    new_docs: DataFrame, corpus: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """The daily-ingest dedup decision as a STREAM: arriving documents
    (a streaming DataFrame) join the static corpus — stream-static
    joins are stateless, so corpus state never accumulates in the
    engine — and each new doc emits its best corpus match (highest
    exact token Jaccard >= threshold, ties to the smallest corpus id).
    The final per-doc aggregate runs in COMPLETE output mode (a bounded
    parity source never advances a watermark).

    Every piece is the batch q_dedup_incremental's own, from
    operators/jaccard.py: ``hashed_token_cols`` for the token hashes,
    ``jaccard_pairs`` for the same-lang size-ratio-pruned pair scan
    (|batch| x |corpus|/lang, never corpus x corpus; threshold on the
    unrounded Jaccard, the reported value rounded) and ``best_match``
    for the tie rule — batch/stream parity by construction. The MinHash
    swap-in (``minhash_band_table`` / ``band_pairs`` /
    ``verify_candidates``) is pure Column exprs too and applies
    unchanged."""
    from featuregenerator_spark.operators.jaccard import (
        best_match,
        hashed_token_cols,
        jaccard_pairs,
    )

    matches = jaccard_pairs(
        hashed_token_cols(new_docs),
        hashed_token_cols(corpus),
        ("doc_id", "match_id"),
        threshold=threshold,
    )
    return best_match(matches)


def running_event_snapshot(stream: DataFrame) -> DataFrame:
    """Per-user running snapshot over the generic events table — the same
    ``applyInPandasWithState`` contract as ``running_snapshot_features``
    but keyed by ``user_id`` and ordered by ``(ts, event_id)``, so its
    output is SQL-expressible (row_number/lag per user) and the driver's
    DuckDB oracle can check the streaming path end to end.

    State per user = (events seen, last event ts); each micro-batch emits
    one row per input event with the prior-event count and the gap to the
    previous event, carrying state across batches. For time-ordered
    arrival this matches the batch window formulation exactly.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            n_events, last_ts = state.get
        else:
            n_events, last_ts = 0, None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_sec = pdf["ts"].map(lambda t: t.timestamp())
            prior = n_events + pd.RangeIndex(len(pdf))
            prev_ts = ts_sec.shift(1)
            if last_ts is not None and len(pdf):
                prev_ts.iloc[0] = last_ts
            out.append(
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"],
                        "n_prior_events": prior,
                        "gap_seconds": ts_sec - prev_ts,
                    }
                )
            )
            n_events += len(pdf)
            last_ts = float(ts_sec.iloc[-1]) if len(pdf) else last_ts
        state.update((n_events, last_ts))
        yield from out

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EVENT_OUT_DDL,
        stateStructType=EVENT_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DECAY_STATE_DDL = "dc double, last_ts double"
DECAY_OUT_DDL = "event_id long, decayed_count double"


def running_decayed_count(
    stream: DataFrame, half_life_seconds: float = 86400.0
) -> DataFrame:
    """Streaming EWMA — the canonical O(1)-state streaming feature: per
    user, the exponentially time-decayed count of STRICTLY PRIOR events
    (half-life parameterized), carried across micro-batches as exactly
    two doubles of state (the decayed sum valued at the last seen
    timestamp, and that timestamp). Where the batch form is a range-frame
    window (plans/temporal.with_decayed_sum), the streaming form decays
    the carried sum forward to each arrival — same math, O(1) state, so
    state NEVER grows with history (unlike a windowed buffer).

    Tied timestamps keep the batch contract (tied peers count with decay
    exactly 1, self excluded), computed vectorized per micro-batch: an
    exclusive-by-tie-group prefix of exp-weights plus a tie-size
    correction — no per-row Python. For time-ordered arrival the output
    equals the batch window formulation exactly (the driver oracle is
    the batch EWMA SQL verbatim)."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    lam = math.log(2.0) / float(half_life_seconds)

    def update(key, pdfs, state):
        if state.exists:
            dc, last_ts = state.get
        else:
            dc, last_ts = 0.0, None
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            t = pdf["ts"].map(lambda x: x.timestamp()).to_numpy()
            t0 = t[0]
            carry0 = (
                dc * math.exp(-lam * (t0 - last_ts))
                if last_ts is not None
                else 0.0
            )
            w = np.exp(lam * (t - t0))
            # per-row: sum of weights over STRICTLY earlier timestamps =
            # cumulative weight up to the row's tie-group start
            new_grp = np.r_[True, np.diff(t) > 0]
            grp_start = np.maximum.accumulate(
                np.where(new_grp, np.arange(len(t)), 0)
            )
            cum = np.r_[0.0, np.cumsum(w)]
            excl_lt = cum[grp_start]
            # tied peers (same ts, decay factor exactly 1), self excluded
            grp_id = np.cumsum(new_grp) - 1
            grp_size = np.bincount(grp_id)[grp_id]
            decayed = (
                np.exp(-lam * (t - t0)) * (carry0 + excl_lt)
                + (grp_size - 1.0)
            )
            out.append(
                pd.DataFrame(
                    {"event_id": pdf["event_id"], "decayed_count": decayed}
                )
            )
            t_last = float(t[-1])
            dc = math.exp(-lam * (t_last - t0)) * (carry0 + float(w.sum()))
            last_ts = t_last
        state.update((float(dc), last_ts))
        yield from out

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=DECAY_OUT_DDL,
        stateStructType=DECAY_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def event_session_aggregates(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native gap sessionization over the events table: one row per
    session per user via ``F.session_window`` — the streaming engine's
    own session operator, not a batch stand-in.

    Sessions chain exactly like the batch rule (plans/temporal.sessionize:
    new session when gap > threshold; a gap of exactly the threshold
    merges in both). Emitted aggregates (count, min/max event id) are
    SQL-expressible so the DuckDB oracle can check the session *contents*,
    not just counts.

    No watermark here: the parity harness drives a bounded source in
    COMPLETE output mode, which flushes every session (append mode would
    hold back any session ending within ``gap`` of the max event time
    until a later watermark advance — state that never comes on a bounded
    input). Production unbounded streams use append mode + withWatermark
    upstream of this groupBy.
    """
    return (
        stream.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "min_event_id",
            "max_event_id",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded source to completion synchronously (tests/smoke)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_to_snapshots(
    stream_df: DataFrame,
    base: str,
    checkpoint: str,
    stats_cols: list[str] | None = None,
):
    """Exactly-once streaming sink into a SnapshotTable
    (sources/snapshots.py): each micro-batch commits as ONE append
    snapshot whose manifest summary records the Structured Streaming
    ``batch_id``. Idempotence under replay comes from checking the
    committed summaries before committing — if a failure lands between
    the snapshot CAS and the checkpoint advance, the replayed batch
    finds its batch_id already committed and skips, so the table never
    double-counts (the standard foreachBatch exactly-once recipe, with
    the snapshot manifest as the transactional "did batch N commit"
    record instead of an external store). Readers get snapshot
    isolation: a micro-batch is fully visible or not at all.

    Batch ids are scoped to the CHECKPOINT (they restart at 0 for a
    fresh checkpoint or a second query), so the ledger keys on
    (checkpoint, batch_id) — a new stream into the same table never has
    its real batches mistaken for replays of another stream's ids.

    Returns the started StreamingQuery (caller drives/stops it)."""
    def commit_batch(batch_df, batch_id: int) -> None:
        commit_stream_batch(
            base, batch_df, batch_id, stream_id=checkpoint,
            stats_cols=stats_cols,
        )

    return (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# (base, stream_id) -> committed batch ids, maintained across batches so
# the sink reads the full manifest/ledger history ONCE per process, not
# once per micro-batch (O(N) manifest opens per batch otherwise).
# Structured Streaming guarantees a single writer per checkpoint, so
# in-memory tracking is safe; a restart simply rescans once.
_STREAM_LEDGER_CACHE: dict[tuple, set] = {}


def commit_stream_batch(
    base: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str | None = None,
    stats_cols: list[str] | None = None,
) -> bool:
    """One micro-batch -> one append snapshot, idempotent on
    (stream_id, batch_id). The dedup record survives snapshot retention
    (expire_snapshots preserves summaries in the ledger). Returns True
    if the batch committed, False if it was a replay of an
    already-committed batch (skipped)."""
    from featuregenerator_spark.sources.snapshots import SnapshotTable

    table = SnapshotTable(batch_df.sparkSession, base, stats_cols=stats_cols)
    key = (table.base, stream_id)
    done = _STREAM_LEDGER_CACHE.get(key)
    if done is None:
        done = {
            s.get("stream_batch_id")
            for s in table.committed_summaries()
            if s.get("stream_id") == stream_id
        } - {None}
        _STREAM_LEDGER_CACHE[key] = done
    if batch_id in done:
        return False  # replayed batch: already transactionally committed
    table.commit_append(
        batch_df,
        summary={"stream_batch_id": batch_id, "stream_id": stream_id},
    )
    done.add(batch_id)
    return True
