"""Perceptual image hashing (aHash) + banded Hamming near-dup pairing.

Cross-modality dedup: the same fingerprint -> pigeonhole-band ->
equijoin -> exact-verify shape the text side uses (SimHash), applied to
decoded IMAGE payloads; both pair through ``hamming_pairs`` here. The
fingerprint is the classic average hash: decode, grayscale, 8x8
block-mean downsample, threshold each cell at the global mean — 64 bits
per image, robust to brightness jitter, pixel noise, and resampling,
which is exactly the near-duplicate class re-encoded/re-scaled web
images fall into.

Scale shape: hashing is one mapInPandas pass (vectorized numpy per
Arrow batch — the decode is the expensive part and parallelizes by
asset exactly like the codec paths); pairing never evaluates O(n^2)
pairs — the 64-bit hash splits into 7 disjoint segments
(``simhash_segments``), Hamming <= 6 guarantees at least one equal
segment (pigeonhole), so candidates come from a narrow (segment, value)
equijoin and exact ``bit_count`` verification runs only on bucket-local
pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featuregenerator_spark.operators.jaccard import BUCKET_CAP, cap_hot_buckets

PHASH_DDL = "asset_id long, width int, height int, phash long"


SIMHASH_SEG_BITS = (10, 9, 9, 9, 9, 9, 9)  # 7 segments cover 64 bits


def simhash_segments(sim: "F.Column"):
    """(offset, width) pigeonhole segments: Hamming <= len(segs)-1 implies
    at least one segment is bit-identical, so candidate pairing becomes an
    equijoin on (segment index, segment value)."""
    out, off = [], 0
    for i, bits in enumerate(SIMHASH_SEG_BITS):
        out.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftrightunsigned(sim, off)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("val"),
            )
        )
        off += bits
    return out


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    names: tuple[str, str],
    keys: tuple[str, ...] = (),
    bucket_cap: int = BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """(names[0], names[1], hamming): every pair of ``df`` rows agreeing
    on ``keys`` whose 64-bit ``hash_col`` fingerprints differ in <= 6
    bits, lower id first. Pigeonhole-banded: explode the 7 segments,
    drop (seg, val, *keys) buckets over ``bucket_cap`` members (optional
    Observation audit, see ``cap_hot_buckets``), equijoin on the
    bucket, verify with exact bit_count — a shuffle-partitioned hash
    join on narrow rows, never an O(n^2) nested loop."""
    cols = (id_col, hash_col, *keys)
    segs = df.select(
        *cols, F.explode(F.array(*simhash_segments(F.col(hash_col)))).alias("s")
    ).select(*cols, "s.seg", "s.val")
    segs = cap_hot_buckets(segs, ("seg", "val", *keys), bucket_cap, observation)
    a, b = segs.alias("a"), segs.alias("b")
    cond = (F.col("a.seg") == F.col("b.seg")) & (F.col("a.val") == F.col("b.val"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    ham = F.bit_count(F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias(names[0]),
            F.col(f"b.{id_col}").alias(names[1]),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .dropDuplicates(list(names))
    )



_BIT_WEIGHTS = None


def _bit_weights():
    global _BIT_WEIGHTS
    if _BIT_WEIGHTS is None:
        import numpy as np

        _BIT_WEIGHTS = np.left_shift(
            np.uint64(1), np.arange(64, dtype=np.uint64)
        )
    return _BIT_WEIGHTS


def _ahash64(rgb) -> int:
    """(H, W, 3) uint8 -> 64-bit average hash (row-major bit order).
    One vectorized dot against the bit-weight vector — no per-bit loop."""
    import numpy as np

    gray = rgb.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    if h < 8 or w < 8:
        # trimming a sub-8px axis to a multiple of 8 yields a zero-size
        # array whose block mean is NaN, collapsing the hash to 0 — every
        # sub-8px image would silently become a mutual near-duplicate
        raise ValueError(
            f"aHash needs at least 8x8 pixels, got {h}x{w}"
        )
    # 8x8 block means; trim to a multiple of 8 so reshape is exact
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g = gray[:hh, :ww].reshape(8, hh // 8, 8, ww // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).astype(np.uint64).ravel()
    out = np.bitwise_or.reduce(bits * _bit_weights())
    # numpy uint64 -> signed long for Spark's LongType (bit pattern kept)
    return int(out.astype(np.int64))


def ahash_images(assets: DataFrame, batch_rows: int = 256) -> DataFrame:
    """(asset_id, width, height, phash) from binary BMP payloads."""
    from featuregenerator_spark.operators.multimodal import _bmp_decode

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                rows = []
                for aid, payload in zip(chunk["asset_id"], chunk["payload"]):
                    rgb = _bmp_decode(bytes(payload))
                    rows.append(
                        (
                            int(aid),
                            rgb.shape[1],
                            rgb.shape[0],
                            _ahash64(rgb),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["asset_id", "width", "height", "phash"]
                )

    return assets.mapInPandas(hash_batch, schema=PHASH_DDL)


def synth_neardup_bmp_assets(
    ids: DataFrame, id_col: str = "asset_id", groups: int = 25
) -> DataFrame:
    """Deterministic 32x32 BMP payloads planted in near-duplicate groups:
    ids sharing ``id % groups`` render the same arithmetic base pattern
    (no RNG — a Knuth-multiplicative pixel hash of (group, x, y)) with a
    per-id brightness offset and a handful of per-id pixel flips, i.e.
    the re-encode/re-scale jitter aHash is designed to absorb."""
    import numpy as np

    from featuregenerator_spark.operators.multimodal import _bmp_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf[id_col].astype("int64"):
                g = int(i) % groups
                y, x = np.mgrid[0:32, 0:32]
                v = (
                    (g * 7919 + x * 31 + y * 17).astype(np.uint64)
                    * np.uint64(2654435761)
                ) % np.uint64(1 << 32)
                base = (v >> np.uint64(24)).astype(np.int32)
                # per-id jitter: small brightness shift + 3 pixel pokes
                base = base + (int(i) % 7) - 3
                for k in range(3):
                    px = (int(i) * 131 + k * 37) % 1024
                    base[px // 32, px % 32] += 40
                gray = np.clip(base, 0, 255).astype(np.uint8)
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                payloads.append(_bmp_encode(rgb))
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col].astype("int64"),
                    "kind": "image",
                    "payload": payloads,
                }
            )

    return ids.mapInPandas(gen, schema="asset_id long, kind string, payload binary")
