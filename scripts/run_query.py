"""spark-submit entry point for the analytics query registry.

Runs any (or every) registry query against a testdata-shaped table
directory and writes parquet + a one-line JSON manifest per query —
the operational face of the 90-entry registry, so a cluster user runs
the exact code the correctness gate checks:

    zip -r mcp_ocr_server_spark.zip mcp_ocr_server_spark
    spark-submit --py-files mcp_ocr_server_spark.zip \\
        scripts/run_query.py \\
        --sf-dir /data/tables --out /data/results \\
        --queries dedup_simhash_pairs,curation_funnel

Each query writes to <out>/<name>/ (overwrite) and appends a manifest
line {"query", "rows", "seconds", "out"} to <out>/manifest.jsonl —
enough for a scheduler to verify completion and for humans to see cost.
Unknown names fail LOUDLY up front (the silent-skip trap bench.py's
BENCH_QUERIES has is wrong for an operational CLI).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mcp_ocr_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir",
                    help="table directory (documents/events/... parquet)")
    ap.add_argument("--out", help="output root")
    ap.add_argument("--queries", default="",
                    help="comma-separated registry names (default: all)")
    ap.add_argument("--list", action="store_true",
                    help="print registry names and exit")
    args = ap.parse_args()

    from mcp_ocr_server_spark.queries import QUERIES, clear_caches

    if args.list:
        for name in sorted(QUERIES):
            print(name)
        return
    if not args.sf_dir or not args.out:
        raise SystemExit("--sf-dir and --out are required (or use --list)")

    names = (
        [n.strip() for n in args.queries.split(",") if n.strip()]
        if args.queries
        else sorted(QUERIES)
    )
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(
            f"unknown queries: {unknown}; --list shows the registry"
        )

    spark = get_spark(app_name="run_query", jvm_heavy=True)
    os.makedirs(args.out, exist_ok=True)
    manifest = os.path.join(args.out, "manifest.jsonl")
    for name in names:
        t0 = time.monotonic()
        df = QUERIES[name][0](spark, args.sf_dir)
        dest = os.path.join(args.out, name)
        df.write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        rec = {
            "query": name,
            "rows": n,
            "seconds": round(time.monotonic() - t0, 3),
            "out": dest,
        }
        with open(manifest, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        clear_caches(spark)  # results written; release derived tables


if __name__ == "__main__":
    main()
