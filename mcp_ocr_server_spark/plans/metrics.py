"""Per-partition metrics + lineage tables (north_star: "writing
extracted spans back ... with per-partition lineage and metrics
tables").

Two side tables accompany every extraction run:

- **partition metrics** — one row per physical task partition of the
  OCR stage: row counts, error counts, duration stats, quality-metric
  aggregates.  `spark_partition_id()` is captured INSIDE the stage's
  output so the row remembers where it was computed.
- **lineage** — the bucket watermark table (plans/checkpoint.py):
  bucket → run id, counts, wall time, commit timestamp.

The reference's only metrics are zap log lines (pkg/logger) and the
batch `count` field (handler.go:236, G4); these tables are their
queryable replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def partition_metrics(ocr_results: DataFrame) -> DataFrame:
    """Aggregate the OCR stage output by the partition that computed it.

    The `partition_id` column is stamped INSIDE the OCR stage via
    TaskContext (operators/media_ocr.py), so it reflects the compute
    partition even after the results are written out and re-read.
    """
    df = ocr_results
    if "partition_id" not in df.columns:
        df = df.withColumn("partition_id", F.spark_partition_id())
    return (
        df.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum(F.when(F.col("error_code").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
            F.round(F.sum("duration_s"), 4).alias("total_duration_s"),
            F.round(F.avg("duration_s"), 6).alias("avg_duration_s"),
            F.round(F.max("duration_s"), 6).alias("max_duration_s"),
            F.round(F.avg("sharpness"), 4).alias("avg_sharpness"),
            F.round(F.avg("contrast"), 4).alias("avg_contrast"),
            F.round(F.avg("brightness"), 4).alias("avg_brightness"),
            F.sum(
                F.when(F.size("applied_steps") > 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_preprocessed"),
        )
    )


def corpus_metrics(spans: DataFrame) -> DataFrame:
    """Corpus-level rollup by span kind (G4 batch count, generalized)."""
    return spans.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("error_code").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.round(F.avg("confidence"), 6).alias("avg_confidence"),
    )
