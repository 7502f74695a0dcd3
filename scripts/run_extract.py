"""spark-submit entry point for the extraction pipeline.

Cluster usage (north rule: "runs via spark-submit --py-files on
multi-executor clusters"):

    zip -r mcp_ocr_server_spark.zip mcp_ocr_server_spark
    spark-submit --py-files mcp_ocr_server_spark.zip \\
        scripts/run_extract.py \\
        --docs  <path/to/docs parquet|iceberg table> \\
        --media <path/to/media table> \\
        --out   <checkpoint+output root> \\
        [--buckets 256] [--synthetic-docs N]

Under spark-submit the driver JVM is already running when this script
builds its session, so `session.get_spark`'s C1-only JIT setting does
not reach it.  For a local-mode submit, where the driver JVM is also the
executor, pass it on the command line (executors keep C2):

    spark-submit --master 'local[4]' \\
        --driver-java-options "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m" \\
        scripts/run_extract.py --out <root> --synthetic-docs 480

Resumable by construction: rerunning with the same --out continues
from the last committed bucket watermark (plans/checkpoint.py).  With
--synthetic-docs N the job generates the deterministic corpus instead
of reading tables (benchmark / smoke mode).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mcp_ocr_server_spark.config import DEFAULT_CONFIG, FIXTURE_JOB  # noqa: E402
from mcp_ocr_server_spark.plans.checkpoint import (  # noqa: E402
    CheckpointStore,
    run_checkpointed,
)
from mcp_ocr_server_spark.session import get_spark  # noqa: E402
from mcp_ocr_server_spark.sources import synthetic as S  # noqa: E402


def _corpus_current(in_dir: str, tables: tuple, out: str,
                    identity: dict) -> bool:
    """True when `in_dir` holds the materialized corpus `identity`
    (n_docs, pdf_frac, buckets — each changes the docs or their bucket
    partitioning): its CORPUS marker, written after every table,
    matches and every table has its _SUCCESS file.  False asks for
    rematerialization, unless the checkpoint store already committed
    buckets: resuming would then mix two corpora in one output, so a
    mismatch refuses.  An absent or corrupt marker is a mismatch."""
    try:
        with open(os.path.join(in_dir, "CORPUS")) as fh:
            stored = json.load(fh)
    except (OSError, ValueError):
        stored = None
    if stored == identity:
        return all(
            os.path.exists(os.path.join(in_dir, t, "_SUCCESS"))
            for t in tables
        )
    if CheckpointStore(out).committed_buckets():
        raise SystemExit(
            f"the requested corpus {identity} does not match the "
            f"materialized one ({stored or 'unrecorded'}) and the "
            "checkpoint store already has committed buckets; resuming "
            "would mix two corpora — rerun with the original "
            "--synthetic-docs / --pdf-frac / --buckets or use a fresh --out"
        )
    return False


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", help="input docs table path (parquet)")
    ap.add_argument("--media", help="media sidecar table path (parquet)")
    ap.add_argument("--out", required=True, help="output + checkpoint root")
    ap.add_argument("--buckets", type=int, default=None,
                    help="checkpoint buckets (default: config file's "
                         "spark.checkpoint_buckets, else "
                         f"{DEFAULT_CONFIG.checkpoint_buckets})")
    ap.add_argument("--synthetic-docs", type=int, default=0,
                    help="generate N synthetic docs instead of reading --docs")
    ap.add_argument("--pdfs", help="optional pdf sidecar table path "
                    "(media_ref, bytes) for pdf-kind spans")
    ap.add_argument("--pdf-frac", type=float, default=0.0,
                    help="synthetic mode: fraction of non-image span "
                         "slots that become pdf-kind spans (activates "
                         "the interleaved pdf branch)")
    ap.add_argument("--config", help="YAML job config (configs/job.yaml shape)")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--compact", action="store_true",
                    help="after ALL buckets are committed, binpack each "
                         "bucket's span files (small-files maintenance; "
                         "watermarks untouched, resume-safe)")
    args = ap.parse_args()

    file_cfg = None
    if args.config:
        from mcp_ocr_server_spark.config_io import load_job_config

        file_cfg = load_job_config(args.config)

    # bucket-count resolution order: --buckets flag > config file's
    # spark.checkpoint_buckets > JobConfig's default (round-1 bug: the
    # flag's hard default silently shadowed the documented config knob)
    n_buckets = args.buckets or (file_cfg or DEFAULT_CONFIG).checkpoint_buckets

    spark = get_spark(app_name="extract", cfg=file_cfg or DEFAULT_CONFIG)
    if args.synthetic_docs:
        # materialize the synthetic corpus to parquet once — the bucket
        # loop scans each table several times per bucket, which is cheap
        # against columnar storage but would re-render every image if
        # read straight from the generator
        corpus = S.CorpusConfig(
            n_docs=args.synthetic_docs, p_pdf=args.pdf_frac
        )
        in_dir = os.path.join(args.out, "input")
        tables = ("docs", "media") + (
            ("pdfs",) if args.pdf_frac > 0 else ()
        )
        identity = {"n_docs": args.synthetic_docs,
                    "pdf_frac": args.pdf_frac, "buckets": n_buckets}
        if not _corpus_current(in_dir, tables, args.out, identity):
            from mcp_ocr_server_spark.plans.checkpoint import bucket_col

            marker = os.path.join(in_dir, "CORPUS")
            if os.path.exists(marker):
                os.remove(marker)  # a crash mid-rewrite leaves none
            # partitionBy the checkpoint bucket key: the bucket loop's
            # per-bucket filter then PRUNES to 1/B of the files instead
            # of scanning the corpus B times (Iceberg bucket transform
            # at cluster scale)
            S.docs_df(spark, corpus).withColumn(
                "bucket", bucket_col(n_buckets)
            ).write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(in_dir, "docs")
            )
            S.media_df(spark, corpus).write.mode("overwrite").parquet(
                os.path.join(in_dir, "media")
            )
            if args.pdf_frac > 0:
                S.pdf_df(spark, corpus).write.mode("overwrite").parquet(
                    os.path.join(in_dir, "pdfs")
                )
            tmp = marker + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(identity, fh)
            os.replace(tmp, marker)  # atomic: no empty/partial marker
        docs = spark.read.parquet(os.path.join(in_dir, "docs"))
        media = spark.read.parquet(os.path.join(in_dir, "media"))
        pdfs = (
            spark.read.parquet(os.path.join(in_dir, "pdfs"))
            if args.pdf_frac > 0
            else None
        )
        cfg = file_cfg or FIXTURE_JOB
    else:
        if not args.docs or not args.media:
            ap.error("--docs and --media required without --synthetic-docs")
        # read_table resolves 'db.table' through the Iceberg catalog
        # when one is configured, filesystem parquet otherwise
        from mcp_ocr_server_spark.sources.tables import read_table

        docs = read_table(spark, args.docs)
        media = read_table(spark, args.media)
        pdfs = read_table(spark, args.pdfs) if args.pdfs else None
        cfg = file_cfg or DEFAULT_CONFIG

    store = CheckpointStore(args.out)
    t0 = time.monotonic()
    result = run_checkpointed(
        spark, docs, media, store, cfg,
        n_buckets=n_buckets, run_id=args.run_id, pdfs=pdfs,
    )
    dt = time.monotonic() - t0
    print(
        f"committed {result.buckets_committed} buckets "
        f"({result.buckets_done_before} already done), "
        f"{result.spans_written} spans in {dt:.1f}s"
    )
    if args.compact:
        # maintenance pass: binpack WITHIN each committed bucket dir, so
        # the bucket=K layout (and hence watermarks + resume) is
        # untouched while per-task file fragmentation is swept.  Only
        # meaningful once every bucket is in; a partial run skips it so
        # the still-running buckets are never raced.
        done = store.committed_buckets()
        if len(done) == n_buckets:
            from mcp_ocr_server_spark.sources.tables import compact_table

            n_b, n_a = 0, 0
            for b in sorted(done):
                bdir = os.path.join(store.spans_dir, f"bucket={b}")
                if os.path.isdir(bdir):
                    nb, na = compact_table(spark, bdir, cluster_col="doc_id")
                    n_b, n_a = n_b + nb, n_a + na
            print(f"compacted span files {n_b} -> {n_a}")
        else:
            print(
                f"skipping --compact: {len(done)}/{n_buckets} buckets "
                "committed"
            )
    spark.stop()


if __name__ == "__main__":
    main()
