"""Perceptual-hash image dedup: banded==brute parity + planted groups."""

from pyspark.sql import functions as F

from featuregenerator_spark.operators.image_phash import (
    _ahash64,
    ahash_images,
    hamming_pairs,
    synth_neardup_bmp_assets,
)

N = 200
GROUPS = 25


def _hashes(spark):
    ids = spark.range(N).select(F.col("id").alias("asset_id"))
    return {
        r["asset_id"]: r["phash"]
        for r in ahash_images(synth_neardup_bmp_assets(ids)).collect()
    }


def test_banded_pairing_equals_brute_force(spark):
    """Pigeonhole guarantee: the production pairing (7-segment equijoin +
    bit_count filter) must return EXACTLY the Hamming<=6 pairs of a
    brute-force scan over all hashes (not a recall approximation — set
    equality)."""
    hs = _hashes(spark)
    brute = {
        (a, b)
        for a in hs
        for b in hs
        if a < b and bin((hs[a] ^ hs[b]) & (2**64 - 1)).count("1") <= 6
    }
    ids = spark.range(N).select(F.col("id").alias("asset_id"))
    pairs = hamming_pairs(
        ahash_images(synth_neardup_bmp_assets(ids)),
        "asset_id",
        "phash",
        ("asset_a", "asset_b"),
    )
    banded = {(r["asset_a"], r["asset_b"]) for r in pairs.collect()}
    assert banded == brute


def test_planted_groups_recall_and_precision(spark):
    """Every planted within-group pair must be found (measured
    within-group Hamming <= 3 — recall 1.0); cross-group pairs stay
    under 2% of emitted pairs (measured 12/712: groups 3 and 22's base
    patterns land 6 bits apart — aHash honestly calls such images
    similar, so the floor is about the fixture, not the operator)."""
    hs = _hashes(spark)
    pairs = {
        (a, b)
        for a in hs
        for b in hs
        if a < b and bin((hs[a] ^ hs[b]) & (2**64 - 1)).count("1") <= 6
    }
    planted = {
        (a, b)
        for a in range(N)
        for b in range(a + 1, N)
        if a % GROUPS == b % GROUPS
    }
    assert planted <= pairs  # recall 1.0
    false = pairs - planted
    assert len(false) <= 0.02 * len(pairs), (len(false), len(pairs))


def test_ahash_invariances():
    """aHash ignores uniform brightness shift and survives small pixel
    damage; unrelated patterns differ in many bits."""
    import numpy as np

    y, x = np.mgrid[0:32, 0:32]
    base = ((x * 13 + y * 29) % 251).astype(np.uint8)
    img = np.repeat(base[:, :, None], 3, axis=2)
    h0 = _ahash64(img)
    # +20 brightness everywhere: identical hash (threshold is the mean)
    bright = np.clip(img.astype(int) + 20, 0, 255).astype(np.uint8)
    assert _ahash64(bright) == h0
    # poke 5 pixels: Hamming stays tiny
    dam = img.copy()
    dam[:2, :2] = 255
    d = bin((h0 ^ _ahash64(dam)) & (2**64 - 1)).count("1")
    assert d <= 3, d
    # a different pattern is far away
    other = np.repeat((((x * 7) ^ (y * 3)) % 256).astype(np.uint8)[:, :, None], 3, axis=2)
    far = bin((h0 ^ _ahash64(other)) & (2**64 - 1)).count("1")
    assert far > 10, far


def test_phash_cap_is_lossless_on_corpus_and_audits_degenerate(spark):
    """Default cap must not change the image pair set (capped ==
    uncapped); a tight cap on the same corpus must drop buckets, shrink
    the output, and report the drops through the Observation."""
    from pyspark.sql import Observation

    import __spark_entry__ as m

    sf_dir = "/root/testdata/sf0.001"
    capped = {
        tuple(r) for r in m.q_image_phash_neardup(spark, sf_dir).collect()
    }
    uncapped = {
        tuple(r)
        for r in m.q_image_phash_neardup(
            spark, sf_dir, bucket_cap=1 << 40
        ).collect()
    }
    assert capped == uncapped
    # audit leg: cap=25 sits between the corpus's median (19) and max
    # (40) bucket size, so some buckets drop while output stays nonempty
    # (a fully-emptied output lets AQE's empty-relation propagation prune
    # the observed subtree and Observation.get has no row to return)
    obs = Observation()
    tight = {
        tuple(r)
        for r in m.q_image_phash_neardup(
            spark, sf_dir, bucket_cap=25, observation=obs
        ).collect()
    }
    assert tight and tight <= uncapped
    got = obs.get
    assert got["dropped_buckets"] >= 1
    assert got["total_buckets"] > got["dropped_buckets"]


def test_ahash_rejects_sub_8px_images():
    """Images smaller than 8px on either axis must raise, not silently
    hash to 0 (which would make every sub-8px image a mutual near-dup)."""
    import numpy as np
    import pytest

    for shape in ((4, 32, 3), (32, 4, 3), (7, 7, 3)):
        with pytest.raises(ValueError, match="at least 8x8"):
            _ahash64(np.zeros(shape, dtype=np.uint8))
