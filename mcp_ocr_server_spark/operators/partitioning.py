"""Skew-aware partitioning for the media OCR stage (north_rule).

The skew problem: document-granularity parallelism puts a 12-image
scanned PDF and a 1-span text doc in the same-size work units (the
reference has the identical problem — one goroutine per *image*, not
per request, was its answer: handler.go:192-230).  Our answer has three
layers, applied in plans/pipeline.py:

1. **Explode to image granularity.**  `posexplode(spans)` makes the
   work unit one image, not one document — a media-heavy doc becomes
   many independent rows.
2. **Dedup to distinct content.**  `dropDuplicates(content_hash)`
   collapses byte-identical images (hot keys) to one compute each; the
   result re-joins to every referencing span.  This is both the
   memoization (cache.go:188-198) and the hot-key de-skew.
3. **Uniform redistribution.**  sha256 content hashes are uniformly
   distributed, so `repartition(n, xxhash64(hash))` gives near-perfect
   row balance with no hot partition; n is sized from a byte-cost
   hint so each partition carries a bounded volume of media bytes.

At cluster scale the cost hint comes from table metadata (Iceberg
tracks file/column sizes — no data scan needed); locally we default to
a multiple of the scheduler's parallelism and let AQE coalesce.

Partitions and files are sized apart.  The UDF stage's partition count
(`n_partitions_for_cost`) is floored at 4x parallelism because a task's
cost is set by the images it decodes, and fine work units rebalance
heavy-tailed ones.  A result table written from that stage holds a few
hundred bytes per unit, so writing it at the same split makes one
near-empty file, and one write task with its fixed per-task cost, per
partition.  The checkpoint loop therefore coalesces each memo table to
`n_parts_for_bytes` of the hint alone, without the floor: one file per
bucket under 64 MB of input bytes (plans/checkpoint.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

# target media bytes per task at scale: small enough that a partition of
# encoded images + decoded arrays fits executor memory comfortably
TARGET_BYTES_PER_PARTITION = 64 * 1024 * 1024
MAX_PARTITIONS = 100_000


def n_parts_for_bytes(total_bytes: int | None) -> int:
    """One part per TARGET_BYTES_PER_PARTITION of `total_bytes`, at least
    one: the byte-cost term alone.  With no hint, or 0 bytes, that is 1."""
    if not total_bytes:
        return 1
    return min(MAX_PARTITIONS, math.ceil(total_bytes / TARGET_BYTES_PER_PARTITION))


def n_partitions_for_cost(spark, total_cost_bytes: int | None) -> int:
    # Floor = 4x parallelism, not 1x: per-image cost is heavy-tailed
    # (NL-means runs only on low-sharpness pages, 10-30x the cost of a
    # clean page), so core-count-sized partitions leave straggler tasks
    # holding several heavy images.  Finer work units let the scheduler
    # rebalance; measured 9.0 s -> 7.0 s on the sf0.1 extraction at
    # local[32] (128 partitions), with task overhead negligible against
    # per-image compute.  The byte-cost term still dominates at scale.
    return max(
        spark.sparkContext.defaultParallelism * 4,
        n_parts_for_bytes(total_cost_bytes),
    )


def repartition_media(
    df: DataFrame, total_cost_bytes: int | None = None
) -> DataFrame:
    """Redistribute distinct media work units uniformly by
    `xxhash64(content_hash, 0)`, which re-keys the (already uniform)
    content hash; the fixed seed keeps placement stable across runs."""
    spark = df.sparkSession
    n = n_partitions_for_cost(spark, total_cost_bytes)
    return df.repartition(n, F.xxhash64(F.col("content_hash"), F.lit(0)))
