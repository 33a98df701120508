"""Seeded input generators for the benchmark, cached by (seed, shape).

Pure numpy/pyarrow: no Spark, so generation never counts toward any
timed or set-up figure. The same (kind, seed, shape) always gives
byte-identical parquet files; a cache directory is keyed by a hash of
exactly those values plus ``GEN_VERSION``.

* ``transcripts``: conversations with a ``ds`` (UTC day) column and even
  day units. Every day starts the same number of ordinary
  conversations, and one hot conversation runs through every day at a
  fixed rate. Turns that would spill past the last day are dropped, so
  no short tail day exists.
* ``snapshots``: feature snapshots derived from a transcript table, one
  per conversation every ``every`` turns, stamped a few seconds after
  the turn they summarise.
* ``corpus``: documents over a Zipf vocabulary with planted
  near-duplicate clusters at a stated rate.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
DAY_S = 86400
BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z, a UTC midnight

TOOLS = np.array(["search", "browser", "python", "calculator", "sql"])
WORDS = np.array(
    "the a of to and in for on with query plan join scan filter sort merge "
    "window agg spark table turn tool user model reply answer code test data "
    "stream batch key value hash range skew salt shuffle broadcast".split()
)
SYLLABLES = np.array(
    "ka ri to me na su lo vi de pa ne ro zu mi ta ko la se fu ga bi ho je "
    "wa yo ce du fo gi hu".split()
)

# ---------------------------------------------------------------- cache


def shape_key(kind: str, seed: int, shape: dict) -> str:
    blob = json.dumps(
        {"kind": kind, "seed": seed, "shape": shape, "v": GEN_VERSION},
        sort_keys=True,
    )
    return f"{kind}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def cached(cache_dir: str, kind: str, seed: int, shape: dict, build) -> str:
    """Directory holding ``build(seed, **shape)``'s tables, built once.

    ``build`` returns ``{name: pyarrow.Table}``; each is written as
    ``<dir>/<name>.parquet``. A directory is published by rename, so a
    killed generation never leaves a half-written cache entry."""
    out = os.path.join(cache_dir, shape_key(kind, seed, shape))
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build(seed, **shape).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


def _texts(rng: np.random.Generator, n: int, vocab: np.ndarray,
           lo: int, hi: int, probs=None) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    words = vocab[idx]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


# ---------------------------------------------------------- transcripts


def transcripts(
    seed: int,
    n_days: int,
    convs_per_day: int,
    mean_turns: int,
    hot_turns_per_day: int,
) -> dict[str, pa.Table]:
    """One transcript table; see the module docstring for its shape."""
    rng = np.random.default_rng([seed, 1])
    n_convs = n_days * convs_per_day
    n_turns = rng.integers(3, 2 * mean_turns - 2, size=n_convs)
    start = (
        np.repeat(np.arange(n_days), convs_per_day) * DAY_S
        + rng.integers(0, DAY_S, size=n_convs)
    ).astype(np.float64)
    conv_of = np.repeat(np.arange(n_convs), n_turns)
    first = np.concatenate([[0], np.cumsum(n_turns)[:-1]])
    turn_idx = np.arange(conv_of.size) - first[conv_of]
    # gaps: mostly seconds, ~6% long pauses that break sessions
    long_pause = rng.random(conv_of.size) < 0.06
    gap = np.where(
        long_pause,
        1800 + rng.integers(0, 7200, size=conv_of.size),
        1 + rng.integers(0, 120, size=conv_of.size),
    ).astype(np.float64)
    gap[turn_idx == 0] = 0.0
    csum = np.cumsum(gap)
    # re-base the running gap sum at each conversation's first turn
    ts = start[conv_of] + csum - csum[first][conv_of]
    conv_ids = np.char.add("c", np.char.zfill(np.arange(n_convs).astype(str), 7))
    conv = conv_ids[conv_of]

    # the hot conversation: evenly spaced turns through every day
    n_hot = n_days * hot_turns_per_day
    step = DAY_S / hot_turns_per_day
    hot_ts = np.arange(n_hot) * step + rng.uniform(0, step * 0.5, size=n_hot)
    ts = np.concatenate([ts, hot_ts])
    conv = np.concatenate([conv, np.full(n_hot, "hot")])
    turn_idx = np.concatenate([turn_idx, np.arange(n_hot)])

    keep = ts < n_days * DAY_S  # no spill-over tail day
    ts, conv, turn_idx = ts[keep], conv[keep], turn_idx[keep]
    n = ts.size
    u = rng.random(n)
    role = np.where(
        turn_idx == 0, "user",
        np.where(u < 0.2, "tool", np.where(turn_idx % 2 == 1, "assistant", "user")),
    )
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n)], None)
    text = _texts(rng, n, WORDS, 3, 22)
    ts_us = (BASE_EPOCH + np.floor(ts)).astype(np.int64) * 1_000_000
    ds = (np.datetime64("1970-01-01") + (ts_us // (DAY_S * 1_000_000)).astype(
        "timedelta64[D]")).astype(str)
    table = pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "ds": pa.array(ds, pa.string()),
        }
    )
    return {"transcripts": table}


def snapshots(table: pa.Table, seed: int, every: int = 10) -> pa.Table:
    """Feature snapshots taken 1-30 s after every ``every``-th turn."""
    rng = np.random.default_rng([seed, 2])
    turn_idx = table.column("turn_idx").to_numpy()
    sel = np.flatnonzero(turn_idx % every == 0)
    ts_us = table.column("ts").cast(pa.int64()).to_numpy()[sel]
    snap_us = ts_us + rng.integers(1, 31, size=sel.size) * 1_000_000
    text_len = np.array(
        [len(t) for t in table.column("text").take(sel).to_pylist()],
        dtype=np.float64,
    )
    keys = pa.array(["turns_seen", "text_len"] * sel.size, pa.string())
    vals = pa.array(
        np.stack([turn_idx[sel].astype(np.float64), text_len], axis=1).ravel(),
        pa.float64(),
    )
    offsets = pa.array(np.arange(0, 2 * sel.size + 1, 2), pa.int32())
    return pa.table(
        {
            "conv_id": table.column("conv_id").take(sel),
            "snap_ts": pa.array(snap_us, pa.timestamp("us", tz="UTC")),
            "feature_state": pa.MapArray.from_arrays(offsets, keys, vals),
        }
    )


def transcripts_with_snapshots(seed: int, **shape) -> dict[str, pa.Table]:
    tables = transcripts(seed, **shape)
    tables["snapshots"] = snapshots(tables["transcripts"], seed)
    return tables


# --------------------------------------------------------------- corpus


def corpus(
    seed: int,
    n_base: int,
    cluster_rate: float,
    cluster_size: int,
    vocab: int,
    langs: int,
    edit_rate: float,
) -> dict[str, pa.Table]:
    """``n_base`` independent documents; a ``cluster_rate`` share of them
    seeds a planted cluster of ``cluster_size - 1`` near-duplicates, each
    a copy with ``edit_rate`` of its tokens replaced. Document ids are
    shuffled so clusters are not contiguous. The ``planted`` table maps
    every clustered doc to its cluster id."""
    rng = np.random.default_rng([seed, 3])
    syl = rng.choice(SYLLABLES, size=(vocab, 3))
    words = np.unique(np.char.add(np.char.add(syl[:, 0], syl[:, 1]), syl[:, 2]))
    ranks = np.arange(1, words.size + 1, dtype=np.float64)
    probs = ranks ** -1.07
    probs /= probs.sum()
    words = rng.permutation(words)

    base_lang = rng.integers(0, langs, size=n_base)
    texts = _texts(rng, n_base, words, 20, 120, probs)
    lang = list(base_lang)
    cluster = [-1] * n_base
    seeds = np.flatnonzero(rng.random(n_base) < cluster_rate)
    for cid, b in enumerate(seeds):
        cluster[b] = cid
        toks = np.array(texts[b].split(" "))
        for _ in range(cluster_size - 1):
            dup = toks.copy()
            hit = rng.random(dup.size) < edit_rate
            dup[hit] = rng.choice(words, size=int(hit.sum()), p=probs)
            texts.append(" ".join(dup))
            lang.append(base_lang[b])
            cluster.append(cid)
    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(len(texts))
    lang_names = np.array([f"l{i}" for i in range(langs)])
    docs = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_names[np.array(lang)], pa.string()),
            "source": pa.array(
                [f"src{i % 7}" for i in range(len(texts))], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    ).sort_by("doc_id")
    clustered = np.flatnonzero(np.array(cluster) >= 0)
    planted = pa.table(
        {
            "doc_id": pa.array(doc_id[clustered], pa.int64()),
            "cluster": pa.array(np.array(cluster)[clustered], pa.int64()),
        }
    )
    return {"documents": docs, "planted": planted}
