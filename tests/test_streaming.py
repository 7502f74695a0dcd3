"""Streaming extraction == batch extraction on the same input; the
streaming path reuses the batch dataflow via foreachBatch."""

from pyspark.sql import functions as F

from mcp_ocr_server_spark.plans.pipeline import extract
from mcp_ocr_server_spark.sources import synthetic as S
from mcp_ocr_server_spark.streaming.stream_extract import (
    stream_extract,
)

from conftest import FIXTURE_JOB

CORPUS = S.CorpusConfig(n_docs=30)


def test_stream_extract_matches_batch(spark, tmp_path):
    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    landing = str(tmp_path / "landing")
    # stage the corpus as arriving files (two drops)
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).write.parquet(
        landing, mode="append"
    )
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 1).write.parquet(
        landing, mode="append"
    )

    q = stream_extract(
        spark, landing, media,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=FIXTURE_JOB,
    )
    q.awaitTermination(300)

    streamed = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out")
    )
    batch = extract(docs, media, FIXTURE_JOB).spans
    key = lambda df: sorted(
        (r.doc_id, r.order, r.kind, r.text, r.error_code) for r in df.collect()
    )
    assert key(streamed) == key(batch)



def test_stateful_streaming_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates across
    micro-batches are suppressed by per-shard state."""
    from pyspark.sql import functions as F2
    from mcp_ocr_server_spark.streaming.stateful_dedup import run_streaming_dedup

    media = S.media_df(spark, S.CorpusConfig(n_docs=40))
    landing = str(tmp_path / "media_landing")
    # two drops with overlap: second drop re-delivers every row plus none new
    media.write.parquet(landing, mode="append")
    media.write.parquet(landing, mode="append")

    q = run_streaming_dedup(
        spark, landing,
        out_dir=str(tmp_path / "dedup_out"),
        checkpoint_dir=str(tmp_path / "dedup_ckpt"),
    )
    q.awaitTermination(300)

    out = spark.read.parquet(str(tmp_path / "dedup_out"))
    rows = out.collect()
    hashes = [r.content_hash for r in rows]
    # every distinct hash exactly once despite 2x delivery
    assert len(hashes) == len(set(hashes))
    # key parity with the batch memo (C1): the stream key IS
    # content_hash_col, so admitted hashes join the batch cache space
    from mcp_ocr_server_spark.config import DEFAULT_CONFIG
    from mcp_ocr_server_spark.plans.pipeline import content_hash_col

    batch_hashes = {
        r[0]
        for r in media.select(content_hash_col(DEFAULT_CONFIG)).distinct().collect()
    }
    assert set(hashes) == batch_hashes


def test_stateful_dedup_fifo_eviction():
    """Per-shard cap evicts oldest admissions (reference cache max-entries
    analogue); an evicted hash is re-admitted on reappearance."""
    import pandas as pd

    from mcp_ocr_server_spark.streaming.stateful_dedup import _make_dedup_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    fn = _make_dedup_fn(max_state_per_shard=2)
    st = FakeState()

    def run(hashes):
        pdf = pd.DataFrame(
            {"content_hash": hashes, "media_ref": ["r"] * len(hashes)}
        )
        return list(fn(("ab",), iter([pdf]), st))[0]["content_hash"].tolist()

    assert run(["h1", "h2", "h3"]) == ["h1", "h2", "h3"]
    # state capped to the 2 newest => h1 evicted => re-admitted; h3 not
    assert run(["h1", "h3"]) == ["h1"]



def test_stream_memoization_across_micro_batches(spark, tmp_path):
    """Cross-micro-batch memoization (C2's streaming face): with
    memo_dir set, content decoded in an earlier batch is never
    re-OCR'd — the union of per-batch ocr_results has exactly ONE row
    per distinct content hash in the corpus — and the spans output
    still equals the monolithic batch run."""
    import os

    from mcp_ocr_server_spark.operators.media_ocr import OCR_RESULT_SCHEMA

    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    landing = str(tmp_path / "landing")
    # >8 files per drop (maxFilesPerTrigger=8) => multiple micro-batches
    # over docs whose media references overlap across batches
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).repartition(10).write.parquet(
        landing, mode="append"
    )
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 1).repartition(10).write.parquet(
        landing, mode="append"
    )
    out = str(tmp_path / "spans_out")
    memo_dir = str(tmp_path / "ocr_memo")
    q = stream_extract(
        spark, landing, media, out, str(tmp_path / "ckpt"),
        FIXTURE_JOB, memo_dir=memo_dir,
    )
    q.awaitTermination(600)

    batches = [d for d in os.listdir(memo_dir) if d.startswith("batch_id=")]
    assert len(batches) >= 2, "expected multiple micro-batches"
    memo_all = spark.read.schema(OCR_RESULT_SCHEMA).parquet(
        *[os.path.join(memo_dir, d) for d in batches]
    )
    n_rows = memo_all.count()
    n_distinct = memo_all.select("content_hash").distinct().count()
    assert n_rows == n_distinct, "a hash was re-OCR'd across batches"

    # spans parity with the monolithic batch run
    batch_spans = extract(docs, media, FIXTURE_JOB).spans
    cols = ["doc_id", "order", "kind", "media_ref", "text", "error_code"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple, batch_spans.select(*cols).collect()))
    assert got == want


def test_memo_compaction_keeps_read_cost_flat(spark, tmp_path):
    """compact_memo (VERDICT r3 #4): with compact_every=1 a long
    stream's per-batch memo read is ONE compacted dir (+ < K batch
    dirs) no matter how many batches ran; coverage and dedup are
    preserved (one row per distinct hash), and the spans output still
    equals the monolithic batch run."""
    import os

    from mcp_ocr_server_spark.operators.media_ocr import OCR_RESULT_SCHEMA
    from mcp_ocr_server_spark.streaming.stream_extract import (
        _memo_sources,
        compact_memo,
    )

    docs = S.docs_df(spark, CORPUS)
    media = S.media_df(spark, CORPUS)
    landing = str(tmp_path / "landing")
    # four drops of >=4 files with maxFilesPerTrigger=8 => >=2 batches;
    # shard by crc32 so media refs overlap across batches
    for k in range(4):
        docs.filter(F.crc32(F.col("doc_id")) % 4 == k).repartition(
            8
        ).write.parquet(landing, mode="append")
    out = str(tmp_path / "spans_out")
    memo_dir = str(tmp_path / "ocr_memo")
    q = stream_extract(
        spark, landing, media, out, str(tmp_path / "ckpt"),
        FIXTURE_JOB, memo_dir=memo_dir, compact_every=1,
    )
    q.awaitTermination(600)

    entries = sorted(os.listdir(memo_dir))
    compacts = [d for d in entries if d.startswith("compact_upto=")]
    batch_dirs = [d for d in entries if d.startswith("batch_id=")]
    assert len(compacts) == 1, entries  # old compactions are removed
    assert batch_dirs == [], entries  # every batch dir was folded in
    # the read set for ANY future batch is exactly one path
    assert len(_memo_sources(memo_dir, batch_id=10_000)) == 1

    memo = spark.read.schema(OCR_RESULT_SCHEMA).parquet(
        os.path.join(memo_dir, compacts[0])
    )
    assert memo.count() == memo.select("content_hash").distinct().count()

    # spans parity with the monolithic batch run survives compaction
    batch_spans = extract(docs, media, FIXTURE_JOB).spans
    cols = ["doc_id", "order", "kind", "media_ref", "text", "error_code"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple, batch_spans.select(*cols).collect()))
    assert got == want

    # idempotent: nothing new => same upto, no rewrite
    upto = int(compacts[0].split("=")[1])
    assert compact_memo(spark, memo_dir) == upto


def test_compact_memo_sweeps_orphans_from_crashed_compaction(
    spark, tmp_path
):
    """A crash between a compaction's _SUCCESS commit and its rmtree
    leaves covered batch dirs (and older compact dirs) that the
    bid >= upto read filter hides forever; the next compact_memo must
    sweep them (review finding)."""
    import os

    from mcp_ocr_server_spark.streaming.stream_extract import (
        _memo_sources,
        compact_memo,
    )

    memo_dir = str(tmp_path / "memo")
    schema = "content_hash string, text string"

    def write(sub, rows):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            os.path.join(memo_dir, sub)
        )

    # simulate: compaction to upto=2 committed but its cleanup died,
    # leaving covered batch 0/1 and an older compact dir behind
    write("compact_upto=1", [("h0", "t0")])
    write("compact_upto=2", [("h0", "t0"), ("h1", "t1")])
    write("batch_id=0", [("h0", "t0")])
    write("batch_id=1", [("h1", "t1")])
    write("batch_id=2", [("h2", "t2")])  # NOT covered — must survive

    upto = compact_memo(spark, memo_dir)
    assert upto == 3  # batch 2 folded in
    entries = sorted(os.listdir(memo_dir))
    assert entries == ["compact_upto=3"], entries
    assert len(_memo_sources(memo_dir, batch_id=99)) == 1


def test_stream_extract_interleaved_matches_batch(spark, tmp_path):
    """The pdfs sidecar threads through the streaming path: a drained
    stream over a four-kind corpus equals the monolithic batch run,
    pdf error codes intact."""
    cfg = S.CorpusConfig(n_docs=24, p_pdf=0.35)
    docs = S.docs_df(spark, cfg)
    media = S.media_df(spark, cfg)
    pdfs = S.pdf_df(spark, cfg)
    landing = str(tmp_path / "landing")
    docs.repartition(4).write.parquet(landing)
    out = str(tmp_path / "spans_out")
    q = stream_extract(
        spark, landing, media, out, str(tmp_path / "ckpt"),
        FIXTURE_JOB, pdfs=pdfs,
    )
    q.awaitTermination(600)
    cols = ["doc_id", "order", "kind", "text", "error_code"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple, extract(
        docs, media, FIXTURE_JOB, pdfs=pdfs
    ).spans.select(*cols).collect()))
    assert got == want
    assert {k for (_d, _o, k, _t, _e) in got} == {
        "text", "html", "image", "pdf"
    }


def test_stream_range_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join == the batch bucketed_range_join
    pair-for-pair (inner matches are final on emission), and the plan
    is a StreamingSymmetricHashJoin with a derived state horizon."""
    from pyspark.sql import functions as F

    from mcp_ocr_server_spark.operators.asof import bucketed_range_join
    from mcp_ocr_server_spark.queries import RANGE_WINDOW_US
    from mcp_ocr_server_spark.streaming.stream_extract import (
        stream_purchase_error_pairs,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_in")
    spark.read.parquet(f"{sf}/events.parquet").repartition(4).write.parquet(
        src
    )
    out = str(tmp_path / "pairs_out")
    q = stream_purchase_error_pairs(
        spark, src, out, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    # the join really ran as a stateful symmetric hash join (not some
    # batch-style rewrite): the final progress carries its state store
    last = q.lastProgress
    assert last["stateOperators"], last
    assert "symmetricHashJoin" in last["stateOperators"][0]["operatorName"]
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select(
                "p_event_id",
                "user_id",
                F.unix_micros("e_ts").alias("us"),
                "cents",
            )
            .collect(),
        )
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    exp = sorted(
        map(
            tuple,
            bucketed_range_join(
                purchases,
                errors.withColumnRenamed("e_user_id", "user_id"),
                on=["user_id"],
                left_ts="p_ts",
                right_ts="e_ts",
                window_us=RANGE_WINDOW_US,
            )
            .select(
                "p_event_id",
                "user_id",
                F.unix_micros(F.col("e_ts").cast("timestamp")).alias("us"),
                "cents",
            )
            .collect(),
        )
    )
    assert len(got) > 0
    assert got == exp
