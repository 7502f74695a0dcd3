"""End-to-end span-sequence equality on the synthetic golden corpus.

The north-rule correctness gate: per-doc output sequence
(kind, text, media_ref, order) — plus confidence/language metadata and
error codes — must equal the fixture-time golden (FIXTURES.md §3),
mirroring the reference's order-preserving batch results
(handler.go:188-232).
"""

import math

import pytest
from pyspark.sql import functions as F

from mcp_ocr_server_spark.config import FILE_NOT_FOUND, IMAGE_TOO_LARGE
from mcp_ocr_server_spark.plans.pipeline import extract, reassemble_docs
from mcp_ocr_server_spark.sources import synthetic as S

from conftest import FIXTURE_JOB

CORPUS = S.CorpusConfig(n_docs=80)


@pytest.fixture(scope="module")
def result(spark):
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    res = extract(docs, media, FIXTURE_JOB)
    got = {
        (r.doc_id, r.order): r
        for r in res.spans.collect()
    }
    exp = {
        (r.doc_id, r.order): r
        for r in S.expected_df(spark, CORPUS, FIXTURE_JOB).collect()
    }
    return got, exp


def test_span_sequence_equality(result):
    got, exp = result
    assert set(got) == set(exp), "span key sets differ"
    mismatches = []
    for k, e in exp.items():
        g = got[k]
        ok = (
            g.kind == e.kind
            and g.media_ref == e.media_ref
            and g.text == e.text
            and g.error_code == e.error_code
            and g.language == e.language
            and (
                (g.confidence is None and e.confidence is None)
                or (
                    g.confidence is not None
                    and e.confidence is not None
                    and math.isclose(g.confidence, e.confidence, rel_tol=1e-9)
                )
            )
        )
        if not ok:
            mismatches.append((k, e, g))
    assert not mismatches, f"{len(mismatches)} mismatched spans, first: {mismatches[0]}"


def test_corpus_exercises_all_paths(result):
    """The fixture corpus must cover every routing/guard path."""
    _, exp = result
    kinds = {r.kind for r in exp.values()}
    assert kinds == {"text", "html", "image"}
    codes = {r.error_code for r in exp.values() if r.error_code}
    assert FILE_NOT_FOUND in codes
    assert IMAGE_TOO_LARGE in codes
    assert any(r.confidence is not None and r.confidence > 0 for r in exp.values())


def test_content_hash_key_known_answer(spark):
    """The memo key is sha256(bytes || language || b"true" || engine):
    a changed key would orphan every committed memo row."""
    import hashlib

    from mcp_ocr_server_spark.plans.pipeline import content_hash_col

    data = bytes(range(256)) * 3
    got = (
        spark.createDataFrame([(bytearray(data),)], "bytes binary")
        .select(content_hash_col(FIXTURE_JOB).alias("h"))
        .first()
        .h
    )
    assert got == hashlib.sha256(
        data + b"eng+chi_sim+chi_tra+jpn" + b"true" + b"template"
    ).hexdigest()


def test_memoization_computes_each_hash_once(spark):
    """C2/C3: distinct content hashes are computed exactly once even when
    media is byte-duplicated across documents (cache_test.go:64-77)."""
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    res = extract(docs, media, FIXTURE_JOB)
    hashes = [r.content_hash for r in res.ocr_results.collect()]
    assert len(hashes) == len(set(hashes)), "a content hash was computed twice"
    # and there ARE duplicate references in the corpus (hot pool)
    ref_counts = (
        res.spans.filter(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert ref_counts > 0, "corpus has no duplicated media to exercise memoization"


def test_memo_table_skips_prior_work(spark):
    """Anti-join memoization: feeding the prior run's results back as the
    memo table must yield zero newly computed hashes and identical output."""
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    first = extract(docs, media, FIXTURE_JOB)
    memo = first.ocr_results.cache()
    memo.count()
    second = extract(docs, media, FIXTURE_JOB, memo=memo)
    assert second.ocr_results.count() == 0
    a = sorted(
        (r.doc_id, r.order, r.text, r.error_code)
        for r in first.spans.collect()
    )
    b = sorted(
        (r.doc_id, r.order, r.text, r.error_code)
        for r in second.spans.collect()
    )
    assert a == b


def test_reassemble_orders_by_offset(spark):
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    res = extract(docs, media, FIXTURE_JOB)
    docs_out = reassemble_docs(res.spans)
    row = docs_out.filter(F.col("n_spans") > 2).first()
    orders = [s["order"] for s in row.extracted]
    assert orders == sorted(orders)
    assert orders[0] == 0


def test_extraction_invariants_hold_at_second_corpus_size(spark):
    """Size-dependent regression guard (VERDICT r3 #6): every oracle
    pins the 120-doc flagship corpus, so run extraction at 500 docs
    and machine-check the structural invariants a fixed golden cannot:

      - span-count identity: one output row per input span, none
        dropped or duplicated by the route/fan-out/reassembly;
      - (doc_id, order) unique — ordered reassembly holds;
      - memoization: ocr_results has at most one row per distinct
        content hash among existing referenced media, and spans only
        carry OCR text for media that exist.
    """
    cfg = S.CorpusConfig(n_docs=500)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    res = extract(docs, media, FIXTURE_JOB)
    spans = res.spans.persist()
    try:
        n_in = docs.select(F.explode("spans")).count()
        n_out = spans.count()
        assert n_out == n_in

        dup = (
            spans.groupBy("doc_id", "order")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0

        n_memo = res.ocr_results.count()
        n_hashes = (
            res.ocr_results.select("content_hash").distinct().count()
        )
        assert n_memo == n_hashes  # one computation per distinct bytes
        # every distinct existing image's bytes is computed at most once:
        # the memo row count is bounded by the distinct byte contents of
        # the media universe (hot-pool dup refs share one hash)
        n_distinct_bytes = (
            media.select(F.sha2("bytes", 256)).distinct().count()
        )
        assert n_memo <= n_distinct_bytes

        # error rows carry EMPTY text (reference semantics,
        # handler.go:304-306): no OCR output ever leaks onto a span
        # that errored
        bad = spans.filter(
            F.col("error_code").isNotNull() & (F.col("text") != "")
        ).count()
        assert bad == 0
    finally:
        spans.unpersist()


def test_pipeline_accepts_transcoded_image_formats(spark):
    """The fleet-wide claim behind codecs.decode_image: the SAME
    extraction plan accepts media payloads in any sniffable container.
    Losslessly transcode every PNG in the corpus to BMP / TIFF-LZW /
    WebP-lossless and re-run extract — every span must come out
    byte-identical except IMAGE_TOO_LARGE, which is legitimately
    byte-length-dependent (containers compress differently)."""
    from typing import Iterator

    import pandas as pd

    from mcp_ocr_server_spark.config import IMAGE_TOO_LARGE
    from mcp_ocr_server_spark.imaging.bmp import encode_bmp
    from mcp_ocr_server_spark.imaging.png import decode_png
    from mcp_ocr_server_spark.imaging.tiff import encode_tiff
    from mcp_ocr_server_spark.imaging.webp import encode_webp
    from mcp_ocr_server_spark.sources.synthetic import MEDIA_SCHEMA

    cfg = S.CorpusConfig(n_docs=32)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    base = {
        (r.doc_id, r.order): r
        for r in extract(docs, media, FIXTURE_JOB).spans.collect()
    }

    from mcp_ocr_server_spark.imaging.gif import encode_gif

    encoders = {
        "bmp": encode_bmp,
        "tiff": lambda img: encode_tiff([img], "lzw"),
        "webp": encode_webp,
        "gif": encode_gif,
    }
    for fmt, enc in encoders.items():
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.assign(
                    bytes=[enc(decode_png(bytes(b))) for b in pdf["bytes"]]
                )
                yield pdf

        transcoded = media.mapInPandas(gen, schema=MEDIA_SCHEMA)
        got = {
            (r.doc_id, r.order): r
            for r in extract(docs, transcoded, FIXTURE_JOB).spans.collect()
        }
        assert got.keys() == base.keys(), fmt
        for key, want in base.items():
            have = got[key]
            codes = {want.error_code, have.error_code}
            if IMAGE_TOO_LARGE in codes:
                continue  # size guard is container-dependent, by design
            assert (have.text, have.confidence, have.error_code) == (
                want.text, want.confidence, want.error_code
            ), (fmt, key)
