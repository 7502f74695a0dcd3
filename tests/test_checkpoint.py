"""Kill-and-resume semantics (north_rule): a killed job must resume
without reprocessing committed buckets and produce exactly the same
output rows as an uninterrupted run — no duplicates, no gaps."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from mcp_ocr_server_spark.plans.checkpoint import (
    CheckpointStore,
    bucket_col,
    run_checkpointed,
)
from mcp_ocr_server_spark.plans.pipeline import explode_spans, extract, hash_pdfs
from mcp_ocr_server_spark.sources import synthetic as S

from conftest import FIXTURE_JOB

CORPUS = S.CorpusConfig(n_docs=40)
N_BUCKETS = 4


def _tree(root):
    """path -> (size, mtime_ns) of every file under root."""
    out = {}
    for d, _subdirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _pdf_refs_by_bucket(docs, pdfs, n_buckets):
    """bucket -> distinct sha256 of the pdfs its docs reference."""
    rows = (
        explode_spans(docs)
        .filter(F.col("kind") == "pdf")
        .join(docs.select("doc_id", bucket_col(n_buckets).alias("bucket")),
              "doc_id")
        .join(hash_pdfs(pdfs), "media_ref")
        .select("bucket", "content_hash").distinct().collect()
    )
    out = {}
    for r in rows:
        out.setdefault(r.bucket, set()).add(r.content_hash)
    return out


def _pdf_parsed_by_bucket(store):
    """bucket -> content_hash list of its committed pdf results table."""
    import pyarrow.parquet as pq

    out = {}
    for b in store.committed_buckets():
        path = os.path.join(store.pdf_dir, f"bucket={b}")
        out[b] = pq.read_table(path, columns=["content_hash"]).column(
            "content_hash").to_pylist()
    return out


def _key_rows(df):
    return sorted(
        (r.doc_id, r.order, r.kind, r.text, r.media_ref, r.error_code)
        for r in df.collect()
    )


def test_kill_and_resume_no_reprocessing(spark, tmp_path):
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)

    store = CheckpointStore(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, docs, media, store, FIXTURE_JOB,
            n_buckets=N_BUCKETS, fail_after_buckets=2,
        )
    assert len(store.committed_buckets()) == 2

    # resume: only the remaining buckets run
    second = run_checkpointed(
        spark, docs, media, store, FIXTURE_JOB, n_buckets=N_BUCKETS,
        run_id="run-1",
    )
    assert second.buckets_done_before == 2
    assert second.buckets_committed == N_BUCKETS - 2
    assert len(store.committed_buckets()) == N_BUCKETS

    # output == single uninterrupted run, row-for-row
    resumed = store.spans_df(spark)
    oneshot = extract(docs, media, FIXTURE_JOB).spans
    assert _key_rows(resumed) == _key_rows(oneshot)

    # no doc appears in two buckets; no span row duplicated
    dups = (
        resumed.groupBy("doc_id", "order").count().filter(F.col("count") > 1)
    )
    assert dups.count() == 0

    # lineage table: one watermark per bucket with counts
    wm = store.watermarks_df(spark)
    assert wm.count() == N_BUCKETS
    assert wm.agg(F.sum("n_spans")).first()[0] == resumed.count()
    # later buckets reuse earlier buckets' OCR results via the memo table
    runs = {r.run_id for r in wm.collect()}
    assert runs == {"run-0", "run-1"}

    # per-partition metrics view (north_star lineage+metrics): one row
    # per (bucket, partition_id), each bucket's image count reconciles
    # with its watermark, and partition ids were stamped by the compute
    # tasks
    metrics = store.metrics_df(spark).collect()
    keys = [(r.bucket, r.partition_id) for r in metrics]
    assert len(keys) == len(set(keys))
    images = {}
    for r in metrics:
        images[r.bucket] = images.get(r.bucket, 0) + r.n_images
    assert {r.bucket: r.n_ocr_computed for r in wm.collect()} == {
        k: images.get(k, 0) for k in range(N_BUCKETS)
    }
    assert all(r.partition_id >= 0 for r in metrics)

    # an empty store: an empty frame with the view's columns
    empty = CheckpointStore(str(tmp_path / "empty")).metrics_df(spark)
    assert empty.columns == store.metrics_df(spark).columns
    assert empty.count() == 0


def test_bucket_loop_reads_back_no_output(spark, tmp_path, monkeypatch):
    """The bucket loop writes each table once and reads back neither
    spans nor metrics: the only parquet reads it issues are the memo
    reads of committed ocr/ and pdf/ buckets."""
    from pyspark.sql.readwriter import DataFrameReader

    cfg = S.CorpusConfig(n_docs=40, p_pdf=0.35)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    pdfs = S.pdf_df(spark, cfg)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    run_checkpointed(
        spark, docs, media, store, FIXTURE_JOB, n_buckets=3, pdfs=pdfs,
    )
    monkeypatch.undo()
    assert store.committed_buckets() == {0, 1, 2}
    memo_dirs = (store.ocr_dir, store.pdf_dir)
    assert read and all(os.path.dirname(p) in memo_dirs for p in read), read
    # a memo read only ever names buckets committed before it
    assert {os.path.basename(p) for p in read} == {"bucket=0", "bucket=1"}


def _docs_in_buckets(spark, wanted, n_buckets):
    """One fresh doc id per entry of `wanted` (a bucket number each),
    drawn from a fixed candidate list via the public bucket_col."""
    cands = spark.createDataFrame(
        [(f"wm-doc-{i}",) for i in range(64)], "doc_id string"
    ).select("doc_id", bucket_col(n_buckets).alias("b")).collect()
    pool = {}
    for r in cands:
        pool.setdefault(r.b, []).append(r.doc_id)
    return [pool[b].pop(0) for b in wanted]


def test_watermark_counts_match_committed_tables(spark, tmp_path):
    """Every watermark field equals a count taken independently (pyarrow,
    no Spark) from the committed tables: n_docs = distinct doc_id of
    spans/bucket=K, n_spans its rows, n_errors its non-null error_code
    rows, n_ocr_computed the rows of ocr/bucket=K.  Bucket 0 holds a doc
    with an empty spans array (not counted in n_docs), bucket 1 only
    images bucket 0 already OCR'd (every one a memo hit: an empty OCR
    write) and bucket 2 no doc at all (every count 0)."""
    import pyarrow.parquet as pq

    media = spark.createDataFrame(
        [S.media_item(CORPUS, j) for j in (0, 1)], S.MEDIA_SCHEMA
    )
    img0, img1 = S.media_ref(0), S.media_ref(1)
    full, empty, reuse = _docs_in_buckets(spark, [0, 0, 1], 3)
    docs = spark.createDataFrame(
        [
            (full, [("text", "hello", None, 0), ("image", None, img0, 5),
                    ("image", None, img1, 9), ("image", None, "img-gone", 12)]),
            (empty, []),
            (reuse, [("image", None, img1, 0), ("text", "bye", None, 3),
                     ("image", None, img0, 4)]),
        ],
        S.DOCS_SCHEMA,
    )
    store = CheckpointStore(str(tmp_path / "ckpt"))
    run_checkpointed(spark, docs, media, store, FIXTURE_JOB, n_buckets=3)
    assert store.committed_buckets() == {0, 1, 2}

    wm = {r.bucket: r for r in store.watermarks_df(spark).collect()}
    for k in range(3):
        spans = pq.read_table(os.path.join(store.spans_dir, f"bucket={k}"))
        ocr = pq.read_table(os.path.join(store.ocr_dir, f"bucket={k}"))
        errors = spans.column("error_code").to_pylist()
        assert (wm[k].n_docs, wm[k].n_spans, wm[k].n_errors,
                wm[k].n_ocr_computed) == (
            len(set(spans.column("doc_id").to_pylist())),
            spans.num_rows,
            sum(e is not None for e in errors),
            ocr.num_rows,
        ), k
    assert (wm[0].n_docs, wm[0].n_spans, wm[0].n_errors,
            wm[0].n_ocr_computed) == (1, 4, 1, 2)
    assert (wm[1].n_docs, wm[1].n_spans, wm[1].n_errors,
            wm[1].n_ocr_computed) == (1, 3, 0, 0)
    assert (wm[2].n_docs, wm[2].n_spans, wm[2].n_errors,
            wm[2].n_ocr_computed) == (0, 0, 0, 0)


def test_precomputed_bucket_mismatch_rejected(spark, tmp_path):
    """A docs table carrying a bucket column written for a different B
    must be refused loudly, not silently drop rows."""
    import pytest
    from pyspark.sql import functions as F

    from mcp_ocr_server_spark.config import FIXTURE_JOB
    from mcp_ocr_server_spark.plans.checkpoint import (
        CheckpointStore,
        bucket_col,
        run_checkpointed,
    )
    from mcp_ocr_server_spark.sources import synthetic as S

    c = S.CorpusConfig(n_docs=40)
    docs = S.docs_df(spark, c).withColumn("bucket", bucket_col(64))
    p = str(tmp_path / "docs64")
    docs.write.partitionBy("bucket").parquet(p)
    bad_docs = spark.read.parquet(p)
    media = S.media_df(spark, c)
    with pytest.raises(ValueError, match="different.*bucket count"):
        run_checkpointed(
            spark, bad_docs, media,
            CheckpointStore(str(tmp_path / "out")), FIXTURE_JOB,
            n_buckets=4,
        )


def test_store_bucket_count_pinned(spark, tmp_path):
    """A store committed under one bucket count refuses any other —
    including the early no-op-resume path (watermarks from B=8 must
    never satisfy a B=4 run)."""
    import pytest

    from mcp_ocr_server_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path / "store"))
    store.check_bucket_count(8)
    for k in range(8):
        store.commit(k, dict(bucket=k, run_id="r", n_docs=0, n_spans=0,
                             n_errors=0, n_ocr_computed=0, wall_s=0.0,
                             committed_at=0.0))
    with pytest.raises(ValueError, match="created with 8 buckets"):
        store.check_bucket_count(4)
    store.check_bucket_count(8)  # same B stays fine


def test_legacy_store_without_marker_refused(tmp_path):
    """Marker-less store with ANY committed watermark is refused — the
    bucket count is unverifiable, and max(done) >= b only catches a
    subset of mismatches (buckets 0-1 under B=4 would 'pass' B=64 and
    then skip the wrong doc subsets on resume).  Restoring the marker
    by hand re-enables the store."""
    import os

    import pytest

    from mcp_ocr_server_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path / "legacy"))
    store.commit(1, dict(bucket=1, run_id="r", n_docs=0, n_spans=0,
                         n_errors=0, n_ocr_computed=0, wall_s=0.0,
                         committed_at=0.0))
    marker = os.path.join(store.root, "BUCKETS")
    if os.path.exists(marker):
        os.remove(marker)
    # the seemingly-compatible direction (max(done)=1 < b=64) must ALSO
    # be refused: the store might have been written under B=4
    with pytest.raises(ValueError, match="cannot be verified"):
        store.check_bucket_count(64)
    with pytest.raises(ValueError, match="cannot be verified"):
        store.check_bucket_count(4)
    # manual migration: restore the marker with the true original count
    with open(marker, "w") as fh:
        fh.write("4")
    store.check_bucket_count(4)  # now verifiable and accepted
    with pytest.raises(ValueError, match="created with 4 buckets"):
        store.check_bucket_count(64)


def test_interleaved_checkpoint_kill_resume_matches_monolithic(
    spark, tmp_path
):
    """The pdf sidecar threads through the bucket loop: a killed
    interleaved run (all four span kinds) resumes without reprocessing
    and its union equals the monolithic extract with the same pdfs —
    no duplicates, no gaps, pdf error codes intact.  The pdf memo
    parses each distinct referenced pdf exactly once across buckets,
    and a no-op resume writes nothing."""
    cfg = S.CorpusConfig(n_docs=40, p_pdf=0.35)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    pdfs = S.pdf_df(spark, cfg)

    store = CheckpointStore(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, docs, media, store, FIXTURE_JOB,
            n_buckets=N_BUCKETS, fail_after_buckets=2, pdfs=pdfs,
        )
    assert len(store.committed_buckets()) == 2
    run_checkpointed(
        spark, docs, media, store, FIXTURE_JOB,
        n_buckets=N_BUCKETS, pdfs=pdfs,
    )
    got = _key_rows(store.spans_df(spark))
    want = _key_rows(extract(docs, media, FIXTURE_JOB, pdfs=pdfs).spans)
    assert got == want
    kinds = {k for (_d, _o, k, _t, _m, _e) in got}
    assert kinds == {"text", "html", "image", "pdf"}
    codes = {e for (_d, _o, _k, _t, _m, e) in got if e}
    assert "PDF_PARSE_FAILED" in codes

    # pdf memo: across every pdf/bucket=K table each hash appears once,
    # and together they hold exactly the distinct pdfs the docs reference
    parsed = [h for hs in _pdf_parsed_by_bucket(store).values() for h in hs]
    referenced = set().union(*_pdf_refs_by_bucket(docs, pdfs, N_BUCKETS).values())
    assert len(parsed) == len(set(parsed))
    assert set(parsed) == referenced

    # a no-op resume commits nothing and touches no file
    before = _tree(store.root)
    again = run_checkpointed(
        spark, docs, media, store, FIXTURE_JOB,
        n_buckets=N_BUCKETS, pdfs=pdfs,
    )
    assert again.buckets_committed == 0
    assert _tree(store.root) == before


def test_pdf_memo_keyed_on_ocr_config(spark, tmp_path):
    """A pdf memo row answers only under the OCR settings it was parsed
    with (the scanned-PDF fallback OCRs under them): resumed under a
    different ocr.language, a bucket re-parses every pdf it references,
    including those committed buckets parsed before the kill."""
    cfg = S.CorpusConfig(n_docs=40, p_pdf=0.35)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    pdfs = S.pdf_df(spark, cfg)
    n_buckets = 2
    store = CheckpointStore(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, docs, media, store, FIXTURE_JOB,
            n_buckets=n_buckets, fail_after_buckets=1, pdfs=pdfs,
        )
    other = dataclasses.replace(
        FIXTURE_JOB, ocr=dataclasses.replace(FIXTURE_JOB.ocr, language="eng")
    )
    assert other.ocr.language != FIXTURE_JOB.ocr.language
    run_checkpointed(
        spark, docs, media, store, other, n_buckets=n_buckets, pdfs=pdfs,
    )
    refs = _pdf_refs_by_bucket(docs, pdfs, n_buckets)
    parsed = _pdf_parsed_by_bucket(store)
    # the buckets share pdfs, so a memo keyed on bytes alone would skip some
    assert refs[0] & refs[1]
    for b in range(n_buckets):
        assert sorted(parsed[b]) == sorted(refs[b])
