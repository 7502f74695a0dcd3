"""Resumable extraction: per-bucket watermarks + atomic commits.

The reference's only durability story is graceful shutdown
(main.go:62-86) — a killed batch loses everything and the TTL cache
(cache.go:29-198) is in-memory.  The north rule instead demands:
"resumable from checkpoint with per-partition lineage + metrics"
— a killed job must NOT reprocess committed partitions.

Design (SURVEY.md §4 item 2):

- Work is split into B deterministic **buckets**:
  ``bucket = pmod(xxhash64(doc_id), B)``.  Buckets, not Spark partition
  ids, are the commit unit: they are stable across runs, cluster sizes
  and AQE decisions.
- Each bucket commits atomically: span rows land under
  ``out/spans/bucket=K/`` and a **watermark row** (bucket id, counts,
  timestamps) is appended to the watermark table only after the data
  write succeeds.  On Iceberg this is one transactional append; on the
  local parquet stand-in, directory + marker-file ordering gives the
  same observable semantics (watermark written last).
- On (re)start, the driver anti-joins the bucket list against committed
  watermarks and processes only the remainder.  Re-running a committed
  bucket is impossible; re-running a half-written bucket overwrites it
  (dynamic partition overwrite), so the invariant is exactly-once
  OUTPUT per bucket (C3 idempotency: same bytes+params => same rows).
- The memo tables (prior ocr_results and pdf_results) double as
  cross-bucket memoization: image hashes OCR'd and pdf hashes parsed by
  committed buckets are never recomputed, nor their bytes shuffled, by
  later ones.  A pdf memo row also records the OCR settings its
  scanned-PDF fallback ran under (pipeline.ocr_params), so a run under
  another language or engine parses again.

Lineage: every watermark row records bucket id, run id, span/doc/error
counts, the number of images OCR'd and wall time.  The counts are
observed while the bucket's tables are written, so each table is
written once and read back never.  Per-partition metrics are a view
over the committed OCR results (``CheckpointStore.metrics_df``), keyed
by (bucket, partition_id): no second table restates them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, JobConfig
from ..operators.media_ocr import OCR_RESULT_SCHEMA
from .metrics import partition_metrics
from .pipeline import PDF_MEMO_SCHEMA, extract, hash_media, hash_pdfs

WATERMARK_SCHEMA = (
    "bucket int, run_id string, n_docs long, n_spans long, n_errors long,"
    " n_ocr_computed long, wall_s double, committed_at double"
)

# Read under an explicit schema (no footer-inference job); an empty store
# yields an empty DataFrame of this shape, not an "empty path list" error.
SPANS_SCHEMA = (
    "doc_id string, order int, kind string, media_ref string, text string,"
    " confidence double, language string, error_code string,"
    " error_msg string, content_hash string"
)


def bucket_col(b: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(b)).cast("int")


@dataclass
class CheckpointedRun:
    out_dir: str
    buckets_total: int
    buckets_done_before: int
    buckets_committed: int
    spans_written: int


class CheckpointStore:
    """Watermark + output layout rooted at a directory.

    Layout:
      root/spans/bucket=K/*.parquet     committed span rows
      root/ocr/bucket=K/*.parquet       committed ocr results (memo source,
                                        and the per-partition metrics view)
      root/pdf/bucket=K/*.parquet       committed pdf results (pdf memo source)
      root/watermarks/K.json            watermark row, written LAST
    """

    def __init__(self, root: str):
        self.root = root
        self.spans_dir = os.path.join(root, "spans")
        self.ocr_dir = os.path.join(root, "ocr")
        self.pdf_dir = os.path.join(root, "pdf")
        self.wm_dir = os.path.join(root, "watermarks")
        os.makedirs(self.wm_dir, exist_ok=True)

    def committed_buckets(self) -> set[int]:
        return {
            int(f.split(".")[0])
            for f in os.listdir(self.wm_dir)
            if f.endswith(".json")
        }

    def check_bucket_count(self, b: int) -> None:
        """The store's bucket count is part of its identity: watermarks
        committed under B=64 must never satisfy a B=4 run (bucket k
        means a DIFFERENT doc subset for each B).  First run records B
        (atomically); every later run must match or fail loudly."""
        marker = os.path.join(self.root, "BUCKETS")
        if os.path.exists(marker):
            try:
                with open(marker) as fh:
                    stored = int(fh.read().strip())
            except (ValueError, OSError):
                stored = None
            if stored is not None and stored != b:
                raise ValueError(
                    f"checkpoint store {self.root} was created with "
                    f"{stored} buckets; rerunning with {b} would misroute "
                    f"documents — use n_buckets={stored} or a fresh store"
                )
            if stored is not None:
                return
        done = self.committed_buckets()
        if done:
            # Committed watermarks but no BUCKETS marker: the store's
            # bucket count is UNKNOWN, and max(done) >= b only detects
            # a subset of mismatches (buckets 0-1 committed under B=4
            # would silently "pass" a B=64 run and then skip the wrong
            # doc subsets on resume).  Match-or-fail-loudly means fail:
            # refuse instead of inferring compatibility.
            raise ValueError(
                f"checkpoint store {self.root} holds committed watermarks "
                f"(up to bucket {max(done)}) but no BUCKETS marker, so its "
                f"bucket count cannot be verified against n_buckets={b} — "
                f"resume from a store written by this version, or restore "
                f"the marker manually (echo <original_bucket_count> > "
                f"{marker}) if the original count is known"
            )
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(b))
        os.replace(tmp, marker)

    def commit(self, bucket: int, stats: dict) -> None:
        path = os.path.join(self.wm_dir, f"{bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, path)  # atomic rename = commit point

    def watermarks_df(self, spark: SparkSession) -> DataFrame:
        rows = []
        for b in sorted(self.committed_buckets()):
            with open(os.path.join(self.wm_dir, f"{b}.json")) as fh:
                rows.append(json.load(fh))
        return spark.createDataFrame(rows, schema=WATERMARK_SCHEMA) if rows else (
            spark.createDataFrame([], schema=WATERMARK_SCHEMA)
        )

    def _read(
        self, spark: SparkSession, table_dir: str, schema: str, **options
    ) -> DataFrame | None:
        """`table_dir/bucket=K` of every committed bucket that wrote one,
        read under an explicit schema (no footer-inference job), or None
        if there is none: only committed buckets count (half-written ones
        are re-run and overwritten)."""
        paths = (
            os.path.join(table_dir, f"bucket={b}")
            for b in sorted(self.committed_buckets())
        )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        return spark.read.schema(schema).options(**options).parquet(*paths)

    def memo_df(self, spark: SparkSession) -> DataFrame | None:
        return self._read(spark, self.ocr_dir, OCR_RESULT_SCHEMA)

    def pdf_memo_df(self, spark: SparkSession) -> DataFrame | None:
        return self._read(spark, self.pdf_dir, PDF_MEMO_SCHEMA)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """partition_metrics over the committed OCR results; `basePath`
        keeps the `bucket` partition column, so rows are keyed by
        (bucket, partition_id)."""
        ocr = self._read(
            spark, self.ocr_dir, OCR_RESULT_SCHEMA, basePath=self.ocr_dir
        )
        if ocr is None:
            ocr = spark.createDataFrame([], OCR_RESULT_SCHEMA + ", bucket int")
        return partition_metrics(ocr)

    def spans_df(self, spark: SparkSession) -> DataFrame:
        spans = self._read(spark, self.spans_dir, SPANS_SCHEMA)
        if spans is None:
            spans = spark.createDataFrame([], schema=SPANS_SCHEMA)
        return spans


def run_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    store: CheckpointStore,
    cfg: JobConfig = DEFAULT_CONFIG,
    n_buckets: int | None = None,
    run_id: str = "run-0",
    fail_after_buckets: int | None = None,
    pdfs: DataFrame | None = None,
) -> CheckpointedRun:
    """Process docs bucket-by-bucket, committing a watermark per bucket.

    ``fail_after_buckets`` injects a mid-job crash for the resume test.
    At cluster scale each bucket is a full multi-partition Spark job
    (B ~ 100s-1000s, each covering ~1/B of the corpus); the loop is
    driver-side but O(B), never O(rows).  ``pdfs`` is the optional
    (media_ref, bytes) sidecar for pdf-kind spans (pipeline._pdf_branch),
    threaded through every bucket's extract unchanged; each bucket
    parses only the distinct pdfs no committed bucket has parsed.
    """
    b = n_buckets or cfg.checkpoint_buckets
    store.check_bucket_count(b)  # refuse a store committed under a different B
    done = store.committed_buckets()
    if all(k in done for k in range(b)):
        # idempotent no-op resume: nothing to do — return before paying
        # the media hash projection / cost hint (a full corpus scan)
        return CheckpointedRun(
            out_dir=store.root, buckets_total=b,
            buckets_done_before=len(done), buckets_committed=0,
            spans_written=0,
        )
    # Storage-aligned bucketing: if the docs table already carries a
    # `bucket` column (written with partitionBy("bucket") using the SAME
    # bucket_col(b) expression — run_extract.py does this; at cluster
    # scale it's an Iceberg bucket(doc_id, B) partition transform), the
    # per-bucket filter becomes partition PRUNING: each bucket reads
    # 1/B of the files.  A computed bucket column cannot prune, so a
    # plain table costs B full scans per run.
    if "bucket" in docs.columns:
        docs_b = docs
        # a precomputed column written for a DIFFERENT B would silently
        # drop every row with bucket >= b — refuse loudly instead.  The
        # filter is on a partition column, so this is a listing-level
        # check, not a data scan.
        bad = (
            docs_b.filter((F.col("bucket") < 0) | (F.col("bucket") >= b))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"docs table carries a precomputed `bucket` column with "
                f"values outside [0, {b}); it was written for a different "
                f"bucket count — rematerialize or drop the column"
            )
    else:
        docs_b = docs.withColumn("bucket", bucket_col(b))
    committed = 0
    total_spans = 0
    # Hoisted once per run (round-1 re-did both per bucket, twice per
    # bucket for the hash projection — 2B media-corpus scans per run):
    # - (ref, n_bytes, content_hash) projection, persisted: sha256 over
    #   the media bytes runs exactly once
    # - partition-sizing hint (at cluster scale: Iceberg table metadata)
    media_hashed = hash_media(media, cfg).persist()
    # pdf analogue of media_hashed: sha256 over the pdf corpus runs
    # once per run, not twice per bucket (review finding)
    pdfs_hashed = hash_pdfs(pdfs).persist() if pdfs is not None else None
    try:
        total_bytes = media_hashed.agg(F.sum("n_bytes")).first()[0] or 0
        bucket_cost = max(1, int(total_bytes) // b)
    except Exception:
        bucket_cost = None
    try:
        for k in range(b):
            if k in done:
                continue
            if fail_after_buckets is not None and committed >= fail_after_buckets:
                raise RuntimeError(f"injected failure after {committed} buckets")
            t0 = time.monotonic()
            # ONE extract() per bucket, and one write per table.  The OCR
            # and pdf stage outputs are persisted: `res.spans`' lookup
            # joins are built over the SAME ocr_results / pdf_results
            # DataFrame subtrees (pipeline.extract ties them), so the
            # spans write reads the cache the memo writes filled instead
            # of re-running mapInPandas.  Neither result is coalesced
            # before its first write: a coalesce above an unfilled cache
            # would run every unit in one task.
            res = extract(
                docs_b.filter(F.col("bucket") == k).drop("bucket"), media,
                cfg, memo=store.memo_df(spark),
                total_media_bytes=bucket_cost, media_hashed=media_hashed,
                pdfs=pdfs, pdfs_hashed=pdfs_hashed,
                pdf_memo=store.pdf_memo_df(spark),
            )
            ocr = res.ocr_results.persist()
            pdf = res.pdf_results.persist() if res.pdf_results is not None else None
            # The watermark counts are observed while the tables are
            # written.  Each observe() sits directly under its write, in
            # the result stage, where Spark merges one attempt per
            # partition: a retried or speculative attempt counts once.
            # explode_spans gives each doc with a span exactly one
            # `order` 0 row (observe refuses countDistinct).
            ocr_seen, spans_seen = Observation(), Observation()
            ocr.observe(
                ocr_seen, F.count(F.lit(1)).alias("n_ocr_computed")
            ).write.mode("overwrite").parquet(
                os.path.join(store.ocr_dir, f"bucket={k}")
            )
            if pdf is not None:
                pdf.write.mode("overwrite").parquet(
                    os.path.join(store.pdf_dir, f"bucket={k}")
                )
            res.spans.observe(
                spans_seen,
                F.count_if(F.col("order") == 0).alias("n_docs"),
                F.count(F.lit(1)).alias("n_spans"),
                F.count_if(F.col("error_code").isNotNull()).alias("n_errors"),
            ).write.mode("overwrite").parquet(
                os.path.join(store.spans_dir, f"bucket={k}")
            )
            ocr.unpersist()
            if pdf is not None:
                pdf.unpersist()
            stats = dict(
                bucket=k, run_id=run_id, **spans_seen.get, **ocr_seen.get,
                wall_s=time.monotonic() - t0, committed_at=time.time(),
            )
            store.commit(k, stats)
            committed += 1
            total_spans += stats["n_spans"]
    finally:
        media_hashed.unpersist()
        if pdfs_hashed is not None:
            pdfs_hashed.unpersist()
    return CheckpointedRun(
        out_dir=store.root,
        buckets_total=b,
        buckets_done_before=len(done),
        buckets_committed=committed,
        spans_written=total_spans,
    )
