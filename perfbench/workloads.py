"""The workloads: their inputs, set-up and the one call each times.

Every workload draws its documents from the synthetic generator
(``sources/synthetic.py``) with the generator's fixed seed, taking the
window of document indices ``[seed * n_docs, (seed + 1) * n_docs)``.
The benchmark seed therefore picks which documents run, how they share
media and in which order, while the image and pdf libraries they
reference stay the same.  Per-image cost is heavy-tailed (a blurry image
costs five times a clean one), so drawing the libraries per seed would
make the run-to-run spread a property of the draw, not of the program.

Sizes are set for a 4-core host: an ``images_cold`` call takes about
7 s there, a ``checkpoint_interleaved`` call about 20 s.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mcp_ocr_server_spark.config import FIXTURE_JOB
from mcp_ocr_server_spark.plans.checkpoint import (
    CheckpointStore,
    bucket_col,
    run_checkpointed,
)
from mcp_ocr_server_spark.plans.pipeline import content_hash_col, extract
from mcp_ocr_server_spark.sources import synthetic as S
from mcp_ocr_server_spark.sources.tables import table_size_bytes

JOB = FIXTURE_JOB
SEED_WINDOWS = 1_000_000
# synthetic.DOCS_SCHEMA as an Arrow schema
_DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


@dataclass(frozen=True)
class Workload:
    name: str
    n_media: int           # image library size
    n_docs: int            # documents per seed window
    p_pdf: float = 0.0     # share of non-image span slots that are pdf
    buckets: int = 0       # > 0: run_checkpointed with this many buckets
    # documents the warm-up extraction covers: all of them where that is
    # cheap, so the timed calls start warm; a few for the job, whose full
    # call costs several times the rest of the set-up
    warm_docs: int = 16


WORKLOADS = {
    w.name: w
    for w in (
        # no memo, little sharing: the OCR stage's kernels set the time
        Workload("images_cold", n_media=128, n_docs=384, warm_docs=384),
        # the spark-submit job: checkpointed buckets over all four kinds;
        # later buckets read earlier buckets' OCR memo, every bucket
        # re-parses its pdfs and writes spans, ocr and metrics
        Workload(
            "checkpoint_interleaved", n_media=48, n_docs=480, p_pdf=0.5,
            buckets=2,
        ),
    )
}


class Inputs:
    """The documents of one seed window and what the gate and the trace
    need to know about them."""

    def __init__(self, wl: Workload, seed: int):
        self.cfg = S.CorpusConfig(
            n_docs=wl.n_docs, n_media=wl.n_media, p_pdf=wl.p_pdf
        )
        lo = (seed % SEED_WINDOWS) * wl.n_docs
        self.doc_indices = range(lo, lo + wl.n_docs)
        self.docs = [S.doc_item(self.cfg, i) for i in self.doc_indices]
        spans = [sp for _doc, sps in self.docs for sp in sps]
        self.image_spans = sum(sp["kind"] == "image" for sp in spans)
        self.html = [sp["text"] for sp in spans if sp["kind"] == "html"]
        # names the libraries and their goldens, which depend on the
        # corpus and job configuration but not on the seed
        self.library_key = hashlib.sha256(
            repr((self.cfg, JOB)).encode()
        ).hexdigest()[:16]


def write_inputs(spark, inputs: Inputs, docs_path: str, library: str) -> None:
    """Write the seed's documents, and the image and pdf libraries unless
    an earlier run in this checkout already wrote them (they do not
    depend on the seed)."""
    rows = [
        dict(doc_id=doc_id, spans=[
            dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                 offset=s["offset"]) for s in spans
        ])
        for doc_id, spans in inputs.docs
    ]
    # as many files as synthetic.docs_df makes partitions
    n_parts = max(4, min(256, len(rows) // 64))
    os.makedirs(docs_path)
    for k in range(n_parts):
        pq.write_table(
            pa.Table.from_pylist(rows[k::n_parts], schema=_DOCS_ARROW),
            os.path.join(docs_path, f"part-{k:03d}.parquet"),
        )
    tables = [("media", S.media_df)]
    if inputs.cfg.p_pdf:
        tables.append(("pdfs", S.pdf_df))
    for name, make in tables:
        path = os.path.join(library, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            make(spark, inputs.cfg).write.mode("overwrite").parquet(path)


class Tables:
    """The inputs of one set-up, read back from parquet."""

    def __init__(self, spark, wl: Workload, docs_path: str, library: str):
        self.docs = spark.read.parquet(docs_path)
        self.media = spark.read.parquet(os.path.join(library, "media"))
        self.pdfs = (
            spark.read.parquet(os.path.join(library, "pdfs")) if wl.p_pdf
            else None
        )
        for df in (self.docs, self.media, self.pdfs):
            if df is not None:
                df.count()
        self.hint = table_size_bytes(spark, os.path.join(library, "media"))


def warm_up(spark, wl: Workload, t: Tables) -> None:
    """Extraction over the first ``wl.warm_docs`` documents: starts the
    Python workers and JIT-compiles the plan's code paths."""
    extract(
        t.docs.limit(wl.warm_docs), t.media, JOB, pdfs=t.pdfs
    ).spans.collect()


def run_call(spark, wl: Workload, t: Tables, out: str):
    """The workload's timed call, run once.  Returns a function that
    reads the produced spans back, to be called outside the timed
    region.  ``out`` must not exist yet."""
    if wl.buckets:
        store = CheckpointStore(out)
        run_checkpointed(
            spark, t.docs, t.media, store, JOB, n_buckets=wl.buckets,
            pdfs=t.pdfs,
        )
        return lambda: _rows(store.spans_df(spark).collect())
    rows = extract(t.docs, t.media, JOB, total_media_bytes=t.hint).spans.collect()
    return lambda: _rows(rows)


def _rows(rows) -> list[dict]:
    return [r.asDict() for r in rows]


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def media_units(spark, t: Tables) -> dict[str, tuple[int, str, bytes]]:
    """media_ref -> (n_bytes, content hash, bytes), the hash computed by
    the pipeline's own key expression."""
    rows = t.media.select(
        "media_ref", F.length("bytes").alias("n"),
        content_hash_col(JOB).alias("h"), "bytes",
    ).collect()
    return {r.media_ref: (r.n, r.h, bytes(r.bytes)) for r in rows}


def pdf_units(t: Tables) -> dict[str, tuple[str, bytes, str]]:
    """media_ref -> (sha256, bytes, generator class) of the pdf table."""
    if t.pdfs is None:
        return {}
    rows = t.pdfs.select(
        "media_ref", F.sha2("bytes", 256).alias("h"), "bytes", "kind"
    ).collect()
    return {r.media_ref: (r.h, bytes(r.bytes), r.kind) for r in rows}


def doc_buckets(t: Tables, wl: Workload) -> dict[str, int]:
    """doc_id -> checkpoint bucket via the public ``bucket_col``; empty
    for workloads without buckets."""
    if not wl.buckets:
        return {}
    rows = t.docs.select("doc_id", bucket_col(wl.buckets).alias("b")).collect()
    return {r.doc_id: r.b for r in rows}


@dataclass
class CallUnits:
    """The distinct work a call does, derived from the inputs alone."""
    images: dict[str, bytes]            # content hash -> bytes, OCR'd once
    pdfs: dict[str, tuple[bytes, str]]  # sha256 -> (bytes, generator class)
    pdf_parses: dict[str, int]          # sha256 -> buckets that parse it
    lookups: int                        # (bucket, eligible image hash) pairs


def call_units(spark, wl: Workload, inputs: Inputs, t: Tables) -> CallUnits:
    """Each bucket OCRs the eligible image hashes no earlier bucket
    computed (the memo) and parses every distinct pdf it references (no
    pdf memo); without buckets all docs are one bucket."""
    media = media_units(spark, t)
    pdfs = pdf_units(t)
    bucket_of = doc_buckets(t, wl)
    images: dict[int, set] = {}
    pdf_sets: dict[int, set] = {}
    for doc_id, spans in inputs.docs:
        b = bucket_of.get(doc_id, 0)
        for sp in spans:
            ref = sp["media_ref"]
            if sp["kind"] == "image" and ref in media:
                n_bytes, h, _ = media[ref]
                if n_bytes <= JOB.ocr.max_image_size:
                    images.setdefault(b, set()).add(h)
            elif sp["kind"] == "pdf" and ref in pdfs:
                pdf_sets.setdefault(b, set()).add(pdfs[ref][0])
    eligible = set().union(*images.values())
    parses: dict[str, int] = {}
    for hs in pdf_sets.values():
        for h in hs:
            parses[h] = parses.get(h, 0) + 1
    return CallUnits(
        images={h: data for _n, h, data in media.values() if h in eligible},
        pdfs={h: (data, kind) for h, data, kind in pdfs.values() if h in parses},
        pdf_parses=parses,
        lookups=sum(len(hs) for hs in images.values()),
    )
