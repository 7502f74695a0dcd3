"""Per-layer numbers of the traced run.

Two sources, both read from outside the program:

* the Spark side: the status-store capture of one more run of the timed
  call (``measure.SparkProbe.capture``): stages, task times, plan nodes;
* the layer side: the distinct work units that call computed, replayed
  on one core through the public layer functions, every call wrapped in
  an in-memory span (name, start, end, parent, work-unit id) that is
  written out when the run ends.

A layer's self time is its span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from mcp_ocr_server_spark.functions.pdf import pdf_text_row
from mcp_ocr_server_spark.functions.text_extract import extract_batch
from mcp_ocr_server_spark.imaging.analyzer import (
    analyze,
    apply_step,
    default_pipeline,
)
from mcp_ocr_server_spark.imaging.codecs import decode_image
from mcp_ocr_server_spark.ocr.engine import get_engine

from measure import is_python_node, straggler_ratio

STEPS = (
    "grayscale", "brighten", "darken", "contrast_enhance", "denoise",
    "binarization", "deskew",
)
PDF_CLASSES = ("born_digital", "encrypted", "scanned_ocr", "refused")
# generator pdf kinds (synthetic.pdf_item) -> parse class; the rest are
# born-digital text under various fonts, filters and xref layouts
_PDF_CLASS = {
    "rc4": "encrypted", "aes": "encrypted", "aes15": "encrypted",
    "scan": "scanned_ocr",
    "garbage": "refused", "encrypted": "refused", "locked": "refused",
}


def _table() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) of every per-layer metric, in report order."""
    t = {
        "codecs.decode_ms": ("ms", "lower"),
        "codecs.decode_calls": ("count", "lower"),
        "analyzer.analyze_ms": ("ms", "lower"),
        "analyzer.analyze_calls": ("count", "lower"),
        "analyzer.denoise_share": ("ratio", "lower"),
    }
    for step in STEPS:
        t[f"kernels.{step}_ms"] = ("ms", "lower")
        t[f"kernels.{step}_calls"] = ("count", "lower")
    t.update({
        "engine.recognize_ms": ("ms", "lower"),
        "engine.recognize_calls": ("count", "lower"),
        "media_ocr.work_units": ("count", "lower"),
        "media_ocr.dedup_ratio": ("ratio", "lower"),
        "media_ocr.memo_hit_share": ("ratio", "higher"),
        "media_ocr.stage_run_s": ("s", "lower"),
        "media_ocr.boundary_s": ("s", "lower"),
        "media_ocr.arrow_in_mb": ("MB", "lower"),
        "media_ocr.arrow_out_mb": ("MB", "lower"),
        "partitioning.ocr_partitions": ("count", "lower"),
        "partitioning.ocr_straggler_ratio": ("ratio", "lower"),
        "partitioning.pdf_straggler_ratio": ("ratio", "lower"),
        "pipeline.stages": ("count", "lower"),
        "pipeline.tasks": ("count", "lower"),
        "pipeline.hash_stage_s": ("s", "lower"),
        "pipeline.non_python_run_s": ("s", "lower"),
        "pipeline.shuffle_read_mb": ("MB", "lower"),
        "pipeline.spill_mb": ("MB", "lower"),
        "pipeline.gc_s": ("s", "lower"),
        "pipeline.jvm_cpu_s": ("s", "lower"),
        "text_extract.html_ms": ("ms", "lower"),
        "text_extract.html_calls": ("count", "lower"),
        "pdf.parse_ms": ("ms", "lower"),
        "pdf.parse_calls": ("count", "lower"),
    })
    for cls in PDF_CLASSES:
        t[f"pdf.{cls}_ms"] = ("ms", "lower")
        t[f"pdf.{cls}_calls"] = ("count", "lower")
    t.update({
        "pdf.parses_per_distinct": ("ratio", "lower"),
        "checkpoint.bucket_s_median": ("s", "lower"),
        "checkpoint.bucket_s_max": ("s", "lower"),
        "checkpoint.written_mb": ("MB", "lower"),
        "checkpoint.files": ("count", "lower"),
        "log.warn_lines": ("count", "lower"),
        "trace.wall_s": ("s", "lower"),
        "trace.overhead_s": ("s", "lower"),
        "trace.named_share": ("ratio", "higher"),
    })
    return t


PER_LAYER = _table()


class Tracer:
    """In-memory spans: name, start, end, parent span, work-unit id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, unit: str | None = None, **attrs):
        rec = dict(
            id=len(self.spans), name=name, unit=unit,
            parent=self._open[-1] if self._open else None,
            start=time.perf_counter(), end=None, **attrs,
        )
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def replay(job, images: dict[str, bytes], html: list[str],
           pdfs: dict[str, tuple[bytes, str]]) -> Tracer:
    """Replay work units on one core, in the order the OCR stage runs
    them: decode, analyze, each preprocess step, recognize."""
    tr = Tracer()
    pcfg = job.preprocessing
    engine = get_engine(job.ocr)
    for h in sorted(images):
        with tr.span("media_ocr.work_unit", h):
            with tr.span("codecs.decode_image", h):
                img = decode_image(images[h])
            if pcfg.auto_mode:
                with tr.span("analyzer.analyze", h):
                    steps = analyze(img, pcfg).suggested_pipeline
            else:
                steps = default_pipeline(pcfg)
            for step in steps:
                with tr.span("analyzer.apply_step", h, step=step):
                    img = apply_step(img, step, pcfg)
            with tr.span("ocr.engine.recognize", h):
                engine.recognize(img)
    for i, doc in enumerate(html):
        with tr.span("text_extract.extract_batch", f"html-{i}"):
            extract_batch([doc])
    for h in sorted(pdfs):
        data, kind = pdfs[h]
        with tr.span("pdf.pdf_text_row", h, cls=_PDF_CLASS.get(kind, "born_digital")):
            pdf_text_row(h, data, ocr_cfg=job)
    return tr


def _ms(durations: list[float]) -> float:
    return 1000.0 * statistics.fmean(durations) if durations else 0.0


def span_metrics(tr: Tracer) -> dict[str, float]:
    own = tr.self_times()
    by: dict[str, list[float]] = defaultdict(list)
    for s in tr.spans:
        key = s["name"]
        if key == "analyzer.apply_step":
            key = f"kernels.{s['step']}"
        elif key == "pdf.pdf_text_row":
            by[f"pdf.{s['cls']}"].append(own[s["id"]])
        by[key].append(own[s["id"]])
    units = by["media_ocr.work_unit"]
    denoised = sum(
        1 for s in tr.spans
        if s["name"] == "analyzer.apply_step" and s["step"] == "denoise"
    )
    m = {
        "codecs.decode_ms": _ms(by["codecs.decode_image"]),
        "codecs.decode_calls": len(by["codecs.decode_image"]),
        "analyzer.analyze_ms": _ms(by["analyzer.analyze"]),
        "analyzer.analyze_calls": len(by["analyzer.analyze"]),
        "analyzer.denoise_share": denoised / len(units) if units else 0.0,
        "engine.recognize_ms": _ms(by["ocr.engine.recognize"]),
        "engine.recognize_calls": len(by["ocr.engine.recognize"]),
        "text_extract.html_ms": _ms(by["text_extract.extract_batch"]),
        "text_extract.html_calls": len(by["text_extract.extract_batch"]),
        "pdf.parse_ms": _ms(by["pdf.pdf_text_row"]),
        "pdf.parse_calls": len(by["pdf.pdf_text_row"]),
    }
    for step in STEPS:
        m[f"kernels.{step}_ms"] = _ms(by[f"kernels.{step}"])
        m[f"kernels.{step}_calls"] = len(by[f"kernels.{step}"])
    for cls in PDF_CLASSES:
        m[f"pdf.{cls}_ms"] = _ms(by[f"pdf.{cls}"])
        m[f"pdf.{cls}_calls"] = len(by[f"pdf.{cls}"])
    return m


def spark_metrics(cap: dict, image_spans: int, lookups: int) -> dict[str, float]:
    """Stage and plan-node numbers of the traced call.  ``lookups`` is
    the number of (bucket, distinct eligible image hash) pairs the memo
    could have answered."""
    stages = {s["id"]: s for s in cap["stages"]}

    def nodes(prefix):
        return [n for n in cap["nodes"] if n["desc"].startswith(prefix)]

    def stage_ids(ns):
        return sorted({i for n in ns for i in n["stages"]})

    def ratio(ids):
        rs = [straggler_ratio(stages[i]["task_s"]) for i in ids]
        return statistics.median(rs) if rs else 0.0

    ocr, pdf = nodes("MapInPandas ocr_map"), nodes("MapInPandas pdf_parse_map")
    ocr_stages = stage_ids(ocr)
    python_stages = set(stage_ids([n for n in cap["nodes"] if is_python_node(n)]))
    hash_stages = stage_ids([n for n in cap["nodes"] if "sha2(" in n["desc"]])
    work = sum(n["metrics"].get("number of output rows", 0) for n in ocr)
    all_s = list(stages.values())
    return {
        "media_ocr.work_units": work,
        "media_ocr.dedup_ratio": work / image_spans if image_spans else 0.0,
        "media_ocr.memo_hit_share": 1 - work / lookups if lookups else 0.0,
        "media_ocr.stage_run_s": sum(stages[i]["run_s"] for i in ocr_stages),
        "media_ocr.arrow_in_mb": sum(
            n["metrics"].get("data sent to Python workers", 0) for n in ocr
        ) / 1e6,
        "media_ocr.arrow_out_mb": sum(
            n["metrics"].get("data returned from Python workers", 0) for n in ocr
        ) / 1e6,
        "partitioning.ocr_partitions": sum(stages[i]["tasks"] for i in ocr_stages),
        "partitioning.ocr_straggler_ratio": ratio(ocr_stages),
        "partitioning.pdf_straggler_ratio": ratio(stage_ids(pdf)),
        "pipeline.stages": len(all_s),
        "pipeline.tasks": sum(s["tasks"] for s in all_s),
        "pipeline.hash_stage_s": sum(stages[i]["run_s"] for i in hash_stages),
        "pipeline.non_python_run_s": sum(
            s["run_s"] for s in all_s if s["id"] not in python_stages
        ),
        "pipeline.shuffle_read_mb": sum(s["shuffle_read"] for s in all_s) / 1e6,
        "pipeline.spill_mb": sum(s["spill"] for s in all_s) / 1e6,
        "pipeline.gc_s": sum(s["gc_s"] for s in all_s),
        "pipeline.jvm_cpu_s": sum(s["cpu_s"] for s in all_s),
    }


def checkpoint_metrics(store_root: str | None) -> dict[str, float]:
    walls, size, files = [], 0, 0
    if store_root:
        wm = os.path.join(store_root, "watermarks")
        for f in sorted(os.listdir(wm)):
            if f.endswith(".json"):
                with open(os.path.join(wm, f)) as fh:
                    walls.append(json.load(fh)["wall_s"])
        for d, _sub, names in os.walk(store_root):
            for f in names:
                size += os.path.getsize(os.path.join(d, f))
                files += f.endswith(".parquet")
    return {
        "checkpoint.bucket_s_median": statistics.median(walls) if walls else 0.0,
        "checkpoint.bucket_s_max": max(walls, default=0.0),
        "checkpoint.written_mb": size / 1e6,
        "checkpoint.files": files,
    }


def write_trace(path: str, tr: Tracer, cap: dict) -> None:
    """Spans plus the captured stages, each labelled with the plan
    operators that ran in it."""
    ops = defaultdict(list)
    for n in cap["nodes"]:
        for i in n["stages"]:
            ops[i].append(n["name"])
    stages = [
        dict(s, operators=sorted(set(ops[s["id"]]))) for s in cap["stages"]
    ]
    with open(path, "w") as fh:
        json.dump(dict(spans=tr.spans, stages=stages), fh)
