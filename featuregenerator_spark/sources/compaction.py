"""Small-file compaction for date-partitioned parquet tables.

Streaming ingest and day-unit backfill (job.py) write one-or-more files
per micro-batch per partition; after months of drops a 100 TB table is
millions of KB-sized files, and every downstream scan pays open/seek/
footer costs per file plus a driver listing that dwarfs the read. The
fix is periodic rewrite: read the fragmented table, REBALANCE on the
partition column, write back.

The rebalance is Spark's own AQE primitive (``RebalancePartitions``,
the ``/*+ REBALANCE(col) */`` hint): after the shuffle map stage, AQE
**coalesces** small partitions up toward
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` and **splits**
skewed ones down — so one declarative job yields ~target-size output
files per date partition with no per-partition driver loop (a loop
over 100k date dirs is the anti-pattern this module exists to avoid),
and a single hot day cannot serialize the rewrite. Content is
unchanged by construction — the oracle gate's ``compact_roundtrip``
query proves read(compacted) == read(fragmented) value-for-value.

A killed compaction is simply re-run: it writes to a NEW
directory and the reader flips over atomically (overwrite of a live
directory would corrupt concurrent readers on object stores without
atomic rename).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ADVISORY_CONF = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def compact_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    partition_cols: tuple[str, ...] = ("ds",),
    advisory_bytes: int | None = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rewrite a (possibly hive-partitioned) parquet directory with
    ~advisory-size files per partition; returns the compacted reader.

    ``advisory_bytes`` is applied for the duration of the write and
    restored after (it is a session-level AQE knob).

    ``sort_cols`` re-sorts rows WITHIN each output file (no extra
    shuffle — a sortWithinPartitions after the rebalance): compaction
    is the natural moment to restore locality, because sorted row
    groups give tight parquet min/max stats (a ``ts`` range scan skips
    whole row groups) and long runs for RLE/dictionary encoding.
    """
    df = spark.read.parquet(src_dir)
    out = df.hint("rebalance", *partition_cols) if partition_cols else df.hint(
        "rebalance"
    )
    if sort_cols:
        # prefix with the partition columns: the dynamic-partition writer
        # requires rows sorted by partition cols and would otherwise
        # inject its own (unstable) sort, destroying the sort_cols order
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    prior = spark.conf.get(ADVISORY_CONF, None)
    try:
        if advisory_bytes is not None:
            spark.conf.set(ADVISORY_CONF, str(advisory_bytes))
        w = out.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(dst_dir)
    finally:
        if advisory_bytes is not None and prior is not None:
            spark.conf.set(ADVISORY_CONF, prior)
    return spark.read.parquet(dst_dir)
