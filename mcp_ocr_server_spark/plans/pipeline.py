"""End-to-end extraction plan over interleaved text + media documents.

The Spark restatement of the reference's whole request lifecycle
(SURVEY.md §3): where the reference runs one JSON-RPC handler per image
(handler.go:93-296), this is ONE declarative job:

    docs --array_sort--> posexplode(spans) --route by kind-->
      non-media: identity / boilerplate-strip           (new text path)
      media:     join media bytes -> guards (F1/F2) ->
                 content-hash (C1) -> dropDuplicates + memo anti-join (C2) ->
                 uniform repartition -> mapInPandas[analyze+preprocess+OCR]
                 -> join results back to every referencing span
      pdf:       join pdf hashes -> dropDuplicates + pdf memo anti-join ->
                 uniform repartition -> mapInPandas[parse (+ scanned OCR)]
                 -> join results back to every referencing span
    --> union -> span rows (doc_id, order, kind, media_ref, text,
                 confidence, language, error_code, ...)

Output invariant: per-doc span sequence (kind, text, media_ref, order)
equals the reference server's per-request results in input order
(handler.go:188-232 writes results[index]; SURVEY.md §2.8).

Scale notes (100 TB / 10^12 docs):
- the ONLY shuffles are: media_ref join, the dropDuplicates on
  content_hash, the uniform repartition of distinct work units, and the
  results re-join.  No doc-level window, no global sort: span order is
  recovered per-row from the input array position after an intra-row
  `array_sort` by offset (no shuffle).
- filters (kind routing, size guard) sit BEFORE the UDF stages so
  Catalyst pushes them into the scan; bytes columns are pruned before
  any re-shuffle of span rows.
- skew: see operators/partitioning.py — explode-to-image granularity +
  content dedup + uniform hash redistribution.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import (
    FILE_NOT_FOUND,
    IMAGE_TOO_LARGE,
    DEFAULT_CONFIG,
    JobConfig,
)
from ..functions.pdf import PDF_RESULT_SCHEMA, make_pdf_parse_map
from ..functions.text_extract import extract_batch
from ..operators.media_ocr import OCR_RESULT_SCHEMA, make_ocr_map
from ..operators.partitioning import repartition_media

SPAN_COLS = [
    "doc_id", "order", "kind", "media_ref", "text",
    "confidence", "language", "error_code", "error_msg", "content_hash",
]


# pdf results table: the parse map's rows plus the OCR settings they
# were computed under (see ocr_params)
PDF_MEMO_SCHEMA = PDF_RESULT_SCHEMA + ", ocr_params string"


@dataclass
class ExtractResult:
    spans: DataFrame        # one row per input span, SPAN_COLS
    ocr_results: DataFrame  # one row per distinct content_hash actually computed
    # one row per distinct pdf content_hash actually parsed
    # (PDF_MEMO_SCHEMA); None without a pdf sidecar
    pdf_results: DataFrame | None = None


def _extract_main_udf():
    # built lazily: pandas_udf type parsing needs an active session
    @F.pandas_udf("string")
    def udf(s: pd.Series) -> pd.Series:
        return pd.Series(extract_batch(s.tolist()))

    return udf


def explode_spans(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> span rows with `order` = offset rank.

    `array_sort` with an offset comparator runs inside the row (no
    shuffle), so `posexplode` position == offset rank even if a writer
    stored spans out of order.
    """
    ordered = docs.withColumn(
        "spans",
        F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)"),
    )
    return ordered.select(
        "doc_id", F.posexplode("spans").alias("order", "span")
    ).select(
        "doc_id",
        "order",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def content_hash_col(cfg: JobConfig) -> F.Column:
    """C1 cache key: hex(sha256(bytes || language || bool-string ||
    engine)) (cache.go:188-198; auto_mode deliberately NOT in the key).
    The bool-string is the reference's preprocessing flag, always
    "true" here: preprocessing always runs, so the literal keeps every
    key equal to one the reference would write.

    One extension beyond the reference's key: the RESOLVED engine name.
    The reference has exactly one engine; here a memo row written by the
    template engine must never satisfy a tesseract run (or vice versa),
    so engine identity is part of "same params" in the C3 invariant.
    Resolution happens driver-side (executors are assumed to share the
    driver's environment, the standard Spark deployment contract)."""
    from ..ocr.engine import resolved_engine

    return F.sha2(
        F.concat(
            F.col("bytes"),
            F.lit(cfg.ocr.language.encode("utf-8")),
            F.lit(b"true"),
            F.lit(resolved_engine(cfg.ocr).encode("utf-8")),
        ),
        256,
    )


def hash_media(media: DataFrame, cfg: JobConfig) -> DataFrame:
    """media(media_ref, bytes) -> (media_ref, n_bytes, content_hash):
    the projection every media consumer joins on instead of the bytes."""
    return media.select(
        "media_ref",
        F.length("bytes").alias("n_bytes"),
        content_hash_col(cfg).alias("content_hash"),
    )


def ocr_params(cfg: JobConfig) -> str:
    """The OCR half of the pdf memo key, stored per pdf result row.

    A pdf's span `content_hash` is sha256(bytes) alone (the goldens pin
    it), but its parse output also depends on the scanned-PDF fallback,
    which OCRs page rasters under the configured language and the
    resolved engine — the two settings `content_hash_col` adds to the
    image key.  A memo row therefore answers only for (content_hash,
    ocr_params) of the current run.  The engine comes first: its name
    holds no ':', so the pair is unambiguous."""
    from ..ocr.engine import resolved_engine

    return f"{resolved_engine(cfg.ocr)}:{cfg.ocr.language}"


def hash_pdfs(pdfs: DataFrame) -> DataFrame:
    """pdfs(media_ref, bytes) -> (media_ref, n_bytes, content_hash)."""
    return pdfs.select(
        "media_ref",
        F.length("bytes").alias("n_bytes"),
        F.sha2("bytes", 256).alias("content_hash"),
    )


def _null(dtype: str) -> F.Column:
    return F.lit(None).cast(dtype)


def extract(
    docs: DataFrame,
    media: DataFrame,
    cfg: JobConfig = DEFAULT_CONFIG,
    memo: DataFrame | None = None,
    total_media_bytes: int | None = None,
    media_hashed: DataFrame | None = None,
    pdfs: DataFrame | None = None,
    pdfs_hashed: DataFrame | None = None,
    pdf_memo: DataFrame | None = None,
) -> ExtractResult:
    """Run the full extraction dataflow. Lazy — returns DataFrames.

    `memo` is a prior ocr_results table (or slice of it); distinct work
    units anti-join it so previously computed hashes are never
    recomputed (durable replacement for the reference's TTL cache,
    SURVEY.md §2.5 C2).  `total_media_bytes` is the partition-sizing
    hint (Iceberg table stats at scale).  `media_hashed` lets a caller
    inject a precomputed (ref, n_bytes, content_hash) projection — the
    checkpoint loop persists it ONCE per run instead of re-hashing the
    media corpus twice per bucket.

    `pdfs` (media_ref, bytes) routes `kind == "pdf"` spans through the
    born-digital PDF text extractor (functions/pdf.py) with the SAME
    distributed shape as the image branch: hash in the scan projection
    (bytes never join/shuffle with span rows), distinct-work dedup,
    uniform repartition, parse once per distinct content, results
    joined back to every referencing span.  Missing refs become
    FILE_NOT_FOUND rows; parser refusals (garbage / encrypted /
    unsupported filter / 1.5+ xref streams) become PDF_PARSE_FAILED
    rows.  Without `pdfs`, pdf spans pass through the non-media
    identity path (legacy corpora contain none).  `pdfs_hashed` is the
    pdf analogue of `media_hashed`: a precomputed (media_ref, n_bytes,
    content_hash) projection the checkpoint loop persists once per run
    so B buckets don't sha256 the pdf corpus B times.  `pdf_memo` is a
    prior `pdf_results` table (PDF_MEMO_SCHEMA): distinct pdf hashes it
    answers under this run's `ocr_params` are neither parsed nor
    shuffled again, and `pdf_results` holds only the newly parsed rows.
    """
    spans = explode_spans(docs)
    routed_kinds = ["image", "pdf"] if pdfs is not None else ["image"]

    # ---- non-media branch: identity for text, boilerplate-strip for html
    non_media = spans.filter(~F.col("kind").isin(routed_kinds)).select(
        "doc_id", "order", "kind", "media_ref",
        F.when(F.col("kind") == "html", _extract_main_udf()(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
        _null("double").alias("confidence"),
        _null("string").alias("language"),
        _null("string").alias("error_code"),
        _null("string").alias("error_msg"),
        _null("string").alias("content_hash"),
    )

    # ---- media branch
    # Content hash + byte length are computed IN THE MEDIA SCAN
    # projection, so the span<->media join and the distinct-work-unit
    # aggregation move only (media_ref, n_bytes, content_hash) — never
    # the bytes.  A naive dropDuplicates(hash, bytes) compiles to a
    # SortAggregate over the binary column (first(bytes) is sort-based),
    # i.e. sorting and shuffling the entire media corpus — fatal at
    # 100 TB.  Instead: pick min(media_ref) per hash (HashAggregate over
    # strings), then fetch that representative's bytes with one join;
    # bytes cross the wire exactly once, into the OCR stage.
    if media_hashed is None:
        media_hashed = hash_media(media, cfg)
    media_spans = (
        spans.filter(F.col("kind") == "image")
        .join(media_hashed, "media_ref", "left")
        .withColumn(
            "guard_error",
            F.when(F.col("n_bytes").isNull(), F.lit(FILE_NOT_FOUND)).when(
                F.col("n_bytes") > cfg.ocr.max_image_size,
                F.lit(IMAGE_TOO_LARGE),
            ),
        )
        .withColumn(
            "content_hash",
            F.when(F.col("guard_error").isNull(), F.col("content_hash")),
        )
    )

    # distinct work units (memoization + hot-key de-skew): one
    # representative media_ref per content hash
    work_refs = (
        media_spans.filter(F.col("guard_error").isNull())
        .groupBy("content_hash")
        .agg(F.min("media_ref").alias("media_ref"))
    )
    if memo is not None:
        work_refs = work_refs.join(
            memo.select("content_hash"), "content_hash", "left_anti"
        )
    work = work_refs.join(media.select("media_ref", "bytes"), "media_ref").select(
        "content_hash", "bytes"
    )
    work = repartition_media(work, total_cost_bytes=total_media_bytes)
    ocr_results = work.mapInPandas(make_ocr_map(cfg), schema=OCR_RESULT_SCHEMA)

    lookup = ocr_results
    if memo is not None:
        lookup = lookup.unionByName(
            memo.select(*ocr_results.columns), allowMissingColumns=False
        )

    media_out = (
        media_spans.select(
            "doc_id", "order", "kind", "media_ref", "guard_error", "content_hash"
        )  # bytes pruned BEFORE the results shuffle
        .join(
            lookup.withColumnRenamed("text", "ocr_text").withColumnRenamed(
                "error_msg", "ocr_error_msg"
            ),
            "content_hash",
            "left",
        )
        .select(
            "doc_id", "order", "kind", "media_ref",
            F.when(F.col("guard_error").isNotNull(), F.lit(""))
            .otherwise(F.coalesce(F.col("ocr_text"), F.lit("")))
            .alias("text"),
            F.when(
                F.col("guard_error").isNull() & F.col("error_code").isNull(),
                F.col("confidence"),
            ).alias("confidence"),
            F.when(
                F.col("guard_error").isNull() & F.col("error_code").isNull(),
                F.col("language"),
            ).alias("language"),
            F.coalesce(F.col("guard_error"), F.col("error_code")).alias(
                "error_code"
            ),
            F.col("ocr_error_msg").alias("error_msg"),
            "content_hash",
        )
    )

    out = non_media.unionByName(media_out)
    pdf_results = None
    if pdfs is not None:
        pdf_out, pdf_results = _pdf_branch(
            spans, pdfs, pdfs_hashed, cfg, pdf_memo
        )
        out = out.unionByName(pdf_out)
    return ExtractResult(
        spans=out.select(*SPAN_COLS), ocr_results=ocr_results,
        pdf_results=pdf_results,
    )


def _pdf_branch(
    spans: DataFrame,
    pdfs: DataFrame,
    pdfs_hashed: DataFrame | None = None,
    cfg: JobConfig = DEFAULT_CONFIG,
    pdf_memo: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """pdf-kind spans -> (extracted-text span rows, newly parsed
    results), image-branch shape: the hash projection keeps bytes
    inside the pdf scan, distinct hashes parse exactly once (hot refs
    and byte-dup refs collapse), and only (hash, text) rows rejoin the
    span side.  Hashes `pdf_memo` already answers under this run's
    `ocr_params` leave the work set before the bytes join, so their
    bytes are never shuffled into the parse stage; the span lookup is
    the new results plus those memo rows.  Documents whose content
    streams hold no text ride the scanned-PDF fallback inside the same
    stage: embedded image-XObject rasters through the SAME preprocess +
    OCR chain as the image branch (pdf_text_row ocr_cfg), with the
    engine's mean confidence instead of the born-digital 100.0."""
    from ..config import PDF_PARSE_FAILED

    params = ocr_params(cfg)
    pdf_hashed = pdfs_hashed if pdfs_hashed is not None else hash_pdfs(pdfs)
    pdf_spans = spans.filter(F.col("kind") == "pdf").join(
        pdf_hashed, "media_ref", "left"
    )
    work_refs = (
        pdf_spans.filter(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(F.min("media_ref").alias("media_ref"))
    )
    if pdf_memo is not None:
        pdf_memo = pdf_memo.filter(F.col("ocr_params") == params)
        work_refs = work_refs.join(
            pdf_memo.select("content_hash"), "content_hash", "left_anti"
        )
    work = work_refs.join(pdfs.select("media_ref", "bytes"), "media_ref").select(
        "content_hash", "bytes"
    )
    work = repartition_media(work)
    results = work.mapInPandas(
        make_pdf_parse_map(ocr_cfg=cfg), schema=PDF_RESULT_SCHEMA
    ).withColumn("ocr_params", F.lit(params))
    lookup = results
    if pdf_memo is not None:
        lookup = lookup.unionByName(pdf_memo.select(*results.columns))
    spans_out = (
        pdf_spans.select("doc_id", "order", "kind", "media_ref", "content_hash")
        .join(lookup, "content_hash", "left")
        .select(
            "doc_id", "order", "kind", "media_ref",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            # parse confidence: 100.0 born-digital, the OCR engine's mean
            # page confidence for scanned docs, null on any error row
            F.when(
                F.col("content_hash").isNotNull() & F.col("error").isNull(),
                F.col("confidence"),
            ).alias("confidence"),
            _null("string").alias("language"),
            F.when(F.col("content_hash").isNull(), F.lit(FILE_NOT_FOUND))
            .when(F.col("error").isNotNull(), F.lit(PDF_PARSE_FAILED))
            .alias("error_code"),
            F.col("error").alias("error_msg"),
            "content_hash",
        )
    )
    return spans_out, results


def reassemble_docs(spans: DataFrame) -> DataFrame:
    """Span rows -> one row per doc with the ordered extracted sequence.

    Shuffles once on doc_id; `array_sort` restores offset order inside
    each row (struct comparison leads with `order`), replacing the
    reference's mutex-guarded results[index] slot writes
    (handler.go:188-232) without a window function.
    """
    return (
        spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("order", "kind", "text", "media_ref",
                             "confidence", "language", "error_code")
                )
            ).alias("extracted"),
            F.count(F.lit(1)).alias("n_spans"),  # G4 batch count
        )
    )
