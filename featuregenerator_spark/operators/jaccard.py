"""The near-duplicate Jaccard kernel, defined once for the dedup family.

Every token-Jaccard query in the query registry (exact pairs, n-gram
pairs, MinHash candidates, the incremental batch-vs-corpus forms, the
dedup clustering edges) and the streaming ingest dedup wire these
pieces; none carries its own copy, so the batch and streaming
decisions agree by construction and a faster pair scan (e.g. a
prefix-filter set-similarity join) replaces ONE function.

* ``hashed_token_cols`` — per-doc distinct-token xxhash64 arrays: each
  token string is hashed ONCE; every MinHash permutation and every
  exact-Jaccard verification downstream derives from the 8-byte hash
  (fixed-width rehash ~10x cheaper than re-hashing strings, and
  hash-array Jaccard == string-token Jaccard absent a ~V^2/2^64
  vocabulary collision — DuckDB-gate-proven on the exact queries).
* ``jaccard_pairs`` — the exact pair scan: same-``lang`` pairs of two
  ``hashed_token_cols``-shaped tables, size-ratio pruned in the join
  condition, Jaccard-filtered.
* ``minhash_band_table`` / ``band_pairs`` — MinHash signatures banded
  into a narrow (doc_id, band, bucket) table and its bucket equijoin.
* ``cap_hot_buckets`` — the degenerate-bucket guard every banded
  pairing (MinHash, SimHash, pHash) applies before its self-join, with
  an optional ``Observation`` audit; ``BUCKET_CAP`` is its default.
* ``verify_candidates`` — exact Jaccard on candidate pairs.
* ``minhash_pairs`` — bands, cap, band self-join and verify composed.
* ``best_match`` — one dedup decision per doc: highest (rounded)
  jaccard, ties to the smallest corpus id. A map-side-partial max_by,
  no sort — and, being an aggregate, legal in streaming complete mode.

Threshold rule, everywhere: a pair qualifies on its UNROUNDED Jaccard
(``J >= threshold``) and only the reported ``jaccard`` is rounded to 4
places — the rule of the DuckDB oracles. Filtering on the rounded value
would admit J = 0.79995 (possible once a union holds >= 4,000 tokens).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

THRESHOLD = 0.8

# Largest band bucket kept before a pairing self-join. Lossless on the
# test corpora (largest real near-dup MinHash bucket: 262 @ sf0.01,
# 2578 @ sf0.1 — same output capped vs uncapped).
BUCKET_CAP = 4000

PAIR_NAMES = ("doc_a", "doc_b")


def hashed_token_cols(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, lang, th, n) from a documents table (works on streams too —
    pure Column exprs)."""
    return df.select(
        id_col,
        "lang",
        F.transform(
            F.array_distinct(F.split(text_col, " ")), lambda t: F.xxhash64(t)
        ).alias("th"),
    ).withColumn("n", F.size("th"))


def _jaccard(ha: Column, hb: Column, na: Column, nb: Column) -> Column:
    # th arrays are distinct, so |union| = n_a + n_b - |intersect| and
    # array_union is never built
    inter = F.size(F.array_intersect(ha, hb)).cast("double")
    return inter / (na + nb - inter)


def _passes(jac: Column, threshold: float) -> Column:
    # coalesce: a bare `jac >= t` is null-intolerant in n, so the
    # optimizer would infer isnotnull(n) and push it below the hashing
    # Project — the token hashing would then run twice per doc
    return F.coalesce(jac, F.lit(0.0)) >= threshold


def jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    names: tuple[str, str] = PAIR_NAMES,
    ordered: bool = False,
    threshold: float = THRESHOLD,
) -> DataFrame:
    """(names[0], names[1], jaccard): every same-lang pair of a ``left``
    and a ``right`` (doc_id, lang, th, n) table with Jaccard >=
    threshold. ``ordered`` keeps a pair once, lower doc_id on the left
    (for a table paired with itself).

    The size-ratio prune is lossless — J >= t implies min(|A|,|B|) >=
    t * max(|A|,|B|) — and sits in the join condition, so pairs that can
    never qualify skip the array intersection. The caller places the
    exchange: a single-split docs table probes ALL O(n^2/lang) pairs in
    one task unless the probe side is repartitioned."""
    a, b = left.alias("a"), right.alias("b")
    cond = F.col("a.lang") == F.col("b.lang")
    if ordered:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    cond = cond & (
        F.least(F.col("a.n"), F.col("b.n"))
        >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n"))
    )
    jac = _jaccard(F.col("a.th"), F.col("b.th"), F.col("a.n"), F.col("b.n"))
    return (
        a.join(b, cond)
        .filter(_passes(jac, threshold))
        .select(
            F.col("a.doc_id").alias(names[0]),
            F.col("b.doc_id").alias(names[1]),
            F.round(jac, 4).alias("jaccard"),
        )
    )


def minhash_band_table(
    hashed: DataFrame, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Narrow LSH band table (doc_id, band, bucket) from token-hash
    arrays — narrow FIRST so the token arrays are never duplicated
    across candidate pairs (they would dominate the shuffle)."""
    sigs = hashed.select(
        "doc_id",
        F.array(
            *[
                F.array_min(
                    F.transform(F.col("th"), lambda h: F.xxhash64(h, F.lit(i)))
                )
                for i in range(n_hashes)
            ]
        ).alias("sig"),
    )
    rows_per_band = n_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.try_element_at(
                                    F.col("sig"), F.lit(bi * rows_per_band + ri + 1)
                                )
                                for ri in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def cap_hot_buckets(
    rows: DataFrame, keys, bucket_cap: int = BUCKET_CAP, observation=None
) -> DataFrame:
    """Drop band buckets (rows sharing ``keys``) with more than
    ``bucket_cap`` members before a pairing self-join. A degenerate
    fingerprint (empty/boilerplate docs, blank images: everything hashes
    to one value) makes one bucket with k members emit k^2 pairs; AQE
    skew splitting redistributes that partition but cannot shrink the
    quadratic OUTPUT, so the guard must run before the join. Sizes
    aggregate map-side on the narrow band table and AQE broadcasts the
    filtered semi-join side.

    Pass a pyspark Observation to audit (dropped_buckets, total_buckets)
    with the job. It attaches only on request: the CollectMetrics node
    sits in a subtree the pairing self-join references twice and blocks
    plan reuse (MinHash, measured 5.4s -> 13.5s+ at sf0.1). If the cap
    empties the OUTPUT entirely, AQE's empty-relation propagation prunes
    the observed subtree and Observation.get has no metrics row — audit
    with a cap that keeps at least one bucket alive."""
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("bsz"))
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.coalesce(
                F.sum((F.col("bsz") > bucket_cap).cast("long")), F.lit(0)
            ).alias("dropped_buckets"),
            F.count(F.lit(1)).alias("total_buckets"),
        )
    return rows.join(
        sizes.filter(F.col("bsz") <= bucket_cap).select(*keys),
        list(keys),
        "left_semi",
    )


def band_pairs(
    left: DataFrame,
    right: DataFrame,
    names: tuple[str, str] = PAIR_NAMES,
    ordered: bool = False,
) -> DataFrame:
    """(names[0], names[1]) candidate pairs: docs of two band tables
    sharing a (band, bucket), each pair once however many bands agree."""
    a, b = left.alias("a"), right.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bucket") == F.col("b.bucket")
    )
    if ordered:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias(names[0]), F.col("b.doc_id").alias(names[1])
        )
        .dropDuplicates(list(names))
    )


def verify_candidates(
    cand: DataFrame,
    hashed: DataFrame,
    names: tuple[str, str] = PAIR_NAMES,
    same_lang: bool = False,
) -> DataFrame:
    """(names[0], names[1], jaccard): the candidate pairs whose exact
    token-hash Jaccard (from the (doc_id, lang, th, n) table ``hashed``)
    is >= THRESHOLD — precision 1 whatever produced the candidates.
    ``same_lang`` also requires both docs to share a lang, like the exact
    pair scan. No broadcast hint: AQE broadcasts the hash side while it
    fits and falls back to a shuffle join beyond it (the 100x path)."""

    def side(key, s):
        return hashed.select(
            F.col("doc_id").alias(key),
            F.col("lang").alias(f"lang_{s}"),
            F.col("th").alias(f"h{s}"),
            F.col("n").alias(f"n{s}"),
        )

    pairs = cand.join(side(names[0], "a"), names[0]).join(
        side(names[1], "b"), names[1]
    )
    if same_lang:
        pairs = pairs.filter(F.col("lang_a") == F.col("lang_b"))
    jac = _jaccard(F.col("ha"), F.col("hb"), F.col("na"), F.col("nb"))
    return pairs.filter(_passes(jac, THRESHOLD)).select(
        *names, F.round(jac, 4).alias("jaccard")
    )


def minhash_pairs(
    hashed: DataFrame,
    partitions: int,
    same_lang: bool = False,
    bucket_cap: int = BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): MinHash-LSH near-dup pairs of one
    (doc_id, lang, th, n) table — 16 hashes in 4 bands, hot buckets
    capped, the band self-join probed over ``partitions`` partitions,
    every candidate exact-verified."""
    banded = cap_hot_buckets(
        minhash_band_table(hashed), ("band", "bucket"), bucket_cap, observation
    )
    cand = band_pairs(
        banded.repartition(partitions, "doc_id"), banded, ordered=True
    )
    return verify_candidates(cand, hashed, same_lang=same_lang)


def best_match(matches: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, match_id, jaccard): per-doc best match from a (id, match_id,
    jaccard) candidate table — highest jaccard, ties to the smallest
    match_id (deterministic; map-side-partial max_by, no sort)."""
    return (
        matches.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("match_id", "jaccard"),
                F.struct(F.col("jaccard"), (-F.col("match_id")).alias("nm")),
            ).alias("m")
        )
        .select(
            id_col,
            F.col("m.match_id").alias("match_id"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )
