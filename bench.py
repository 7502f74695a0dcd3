"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line (the driver tail-captures stdout with a ~2000-char
buffer — the r4 line outgrew it and parsed as null):

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "cpus": ...,
     "n_docs": ..., "n_queries": ..., "total_shuffle_mb": ...,
     "docs_per_sec": ..., "detail": "BENCH_DETAIL.json",
     "queries": {...most-expensive timings that fit the line budget...},
     "queries_omitted": K}

The FULL per-query detail (all timings, row counts, shuffle-write MB)
is written to $BENCH_DETAIL_PATH (default <repo>/BENCH_DETAIL.json),
committed per round for round-over-round comparison.

The flagship entry is the end-to-end extraction job over the synthetic
interleaved-docs corpus (size via $BENCH_DOCS, default 600 — media
universe scales with it); its throughput in docs/sec is the
BASELINE.json north-star metric.  $BENCH_QUERIES=comma,list restricts
which queries run (used by scripts/bench_scaling.py to isolate the
extraction job for the two-parallelism scaling measurement).

Methodology (VERDICT r2 "What's wrong #3"): module-level persisted
caches are CLEARED before every timed query, so each number is the
query's cold, isolated cost — reproducible within noise against a
single-query run — rather than a sequence-dependent figure inflated
(or subsidized) by whatever ran before it.  Queries that share a
derived table (flagship spans, shingles) each pay their own
materialization, exactly as an isolated run would.

Besides seconds, each query's SHUFFLE WRITE volume (MB moved through
the exchange layer, from the app-status store's executor totals) is
recorded as "shuffle_write_mb" — at 100 TB the shuffle term, not the
CPU term, is what decides whether a plan survives, so the bench tracks
it round-over-round the same way it tracks time.  The status store is
updated asynchronously off the event bus; a short post-query settle
keeps deltas attributed to the right query (±a few stage-completion
events at worst, noted rather than hidden).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mcp_ocr_server_spark.config import FIXTURE_JOB  # noqa: E402
from mcp_ocr_server_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "2400"))
    only = os.environ.get("BENCH_QUERIES", "")
    selected = set(only.split(",")) if only else None
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        cfg=FIXTURE_JOB,
        shuffle_partitions=max(cpus, 8),
        jvm_heavy=True,
    )

    from mcp_ocr_server_spark.plans.pipeline import extract
    from mcp_ocr_server_spark.sources import synthetic as S
    from mcp_ocr_server_spark import queries as Q

    corpus = S.CorpusConfig(n_docs=n_docs)

    # Materialize the corpus to parquet ONCE (untimed): the production
    # input is an Iceberg/parquet table, and the pipeline deliberately
    # scans media twice (hash projection + representative-bytes fetch) —
    # cheap against columnar storage, but against the in-line generator
    # it would re-render every image and time corpus synthesis instead
    # of extraction.
    corpus_dir = os.environ.get(
        "BENCH_INPUT_DIR",
        f"/tmp/bench_corpus_{n_docs}_v{S.CORPUS_VERSION}",
    )
    if not os.path.exists(os.path.join(corpus_dir, "docs", "_SUCCESS")):
        S.docs_df(spark, corpus).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "docs")
        )
        S.media_df(spark, corpus).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "media")
        )

    def bench_extract():
        from mcp_ocr_server_spark.sources.tables import table_size_bytes

        docs = spark.read.parquet(os.path.join(corpus_dir, "docs"))
        media = spark.read.parquet(os.path.join(corpus_dir, "media"))
        hint = table_size_bytes(spark, os.path.join(corpus_dir, "media"))
        res = extract(docs, media, FIXTURE_JOB, total_media_bytes=hint)
        return res.spans.count()

    # four-kind interleaved variant (pdf spans via the pdfs sidecar) at
    # the SAME doc count — the scale datapoint for the pdf branch; the
    # plain extract_e2e stays pdf-free so its number remains comparable
    # round-over-round
    inter_dir = os.environ.get(
        "BENCH_INTER_DIR",
        f"/tmp/bench_corpus_{n_docs}_pdf_v{S.CORPUS_VERSION}",
    )
    inter_corpus = S.CorpusConfig(n_docs=n_docs, p_pdf=0.2)
    if (selected is None or "extract_e2e_interleaved" in selected) and (
        not os.path.exists(os.path.join(inter_dir, "pdfs", "_SUCCESS"))
    ):
        S.docs_df(spark, inter_corpus).write.mode("overwrite").parquet(
            os.path.join(inter_dir, "docs")
        )
        S.media_df(spark, inter_corpus).write.mode("overwrite").parquet(
            os.path.join(inter_dir, "media")
        )
        S.pdf_df(spark, inter_corpus).write.mode("overwrite").parquet(
            os.path.join(inter_dir, "pdfs")
        )

    def bench_extract_interleaved():
        from mcp_ocr_server_spark.sources.tables import table_size_bytes

        docs = spark.read.parquet(os.path.join(inter_dir, "docs"))
        media = spark.read.parquet(os.path.join(inter_dir, "media"))
        pdfs = spark.read.parquet(os.path.join(inter_dir, "pdfs"))
        hint = table_size_bytes(spark, os.path.join(inter_dir, "media"))
        res = extract(
            docs, media, FIXTURE_JOB, total_media_bytes=hint, pdfs=pdfs
        )
        return res.spans.count()

    def force(df):
        """Row count with every output column FORCED.  A bare count()
        lets Catalyst prune row-local projections entirely — a
        tokenizing query "ran" in 0.2 s because nothing was tokenized
        (validity bug found in the round-4 scaling work: token_stats
        over a 40x corpus timed the same as over 1x).  Hashing the
        whole row keeps the computation in-plan, JVM-side, with one
        scalar crossing to the driver; aggregation/join queries are
        unaffected beyond the cheap hash itself."""
        row = df.selectExpr(
            "count(*) AS n", "bit_xor(xxhash64(struct(*))) AS h"
        ).collect()[0]
        return row["n"]

    analytics = [
        "extract_base64", "extract_docs", "html_main_content",
        "html_main_markdown", "html_metadata", "subtitle_cues",
        "html_links", "anchor_text", "link_rank", "keyword_rank",
        "extract_interleaved", "jsonl_ingest",
        "media_words", "media_image_features", "media_audio_features",
        "media_orphans", "pdf_text", "pdf_scan_ocr", "pdf_render_ocr",
        "pdf_layout", "pdf_info", "scan_inventory", "scan_ocr",
        "media_video_frames",
        "media_audio_inventory", "audio_tags", "media_video_inventory",
        "warc_records", "warc_main_content", "warc_redirects",
        "sitemap_urls", "robots_rules", "feed_entries",
        # frontier_admission / frontier_schedule / sitemap_expand /
        # discovery_matrix are registry/correctness-only: each re-runs
        # fan-outs timed above (sitemap_urls, robots_rules,
        # feed_entries, warc_redirects)
        "bm25_search", "fingerprint_winnow", "dedup_winnow_pairs",
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash",
        "dedup_minhash_pairs",
        "dedup_simhash", "dedup_source_matrix", "dedup_simhash_pairs",
        "dedup_clusters",
        "dedup_incremental", "dedup_lsh_buckets",
        "dedup_embedding",
        # ann_recall_eval, dedup_pair_eval, winnow_pair_eval,
        # lm_bucket_eval, split_leakage and dedup_canonical are
        # registry/correctness-only: each re-runs queries timed above
        # (the three ANN queries; the minhash pair miner; both lm
        # bucket paths; the simhash cluster resolution), so timing
        # them in the headline total would double-count work already
        # measured
        # dedup_semantic directly follows ann_ivf: both are steady-state
        # consumers of the codebook trained (and timed) as ann_ivf_train,
        # and no cache-clearing run() may intervene between them
        "ann_topk", "ann_lsh", "ann_ivf", "dedup_semantic",
        "embedding_centroids",
        "embedding_outliers",
        "lang_id", "lang_id_eval", "text_quality", "token_stats",
        "doc_length_hist",
        "doc_fingerprint", "repetition_stats", "quality_filter",
        "source_gate",
        "pii_scrub", "line_dedup", "dedup_substring", "text_normalize",
        "doc_chunks", "lm_score", "lm_buckets", "lm_buckets_sampled",
        "source_quota",
        "events_json", "event_quantiles", "event_cardinality",
        "event_funnel", "user_retention",
        "vocab_topk", "vocab_topk_per_lang", "ngram_growth", "pmi_pairs",
        "bpe_pairs", "bpe_merges", "bpe_encode", "tfidf_topk",
        "corpus_split",
        "corpus_diff", "merge_upsert", "corpus_profile",
        "decontaminate", "decontaminate_bloom", "curation_funnel",
        "pack_sequences", "source_mix",
        "lang_sample_weights", "url_dedup", "url_blocklist", "url_robots",
        "source_lang_pivot",
        "events_hourly", "events_anomaly", "events_cube", "events_sliding",
        "event_sessions",
        "events_asof_orders", "purchase_error_window",
        "orders_window",
        "customer_set_ops", "pricing_summary", "top_suppliers",
        "nation_profit",
    ]

    if selected:
        # validate against what bench can actually TIME, not the full
        # registry: a typo'd (or deliberately-untimed) name would
        # otherwise just vanish from the output JSON.  Registry names
        # outside the timing list get the accurate "not timed" message
        # (eval queries that re-run timed work; extraction queries
        # whose cost is the flagship extract_e2e materialization).
        runnable = set(analytics) | {
            "extract_e2e", "extract_e2e_interleaved", "ann_ivf_train",
        }
        for bad in sorted(selected - runnable):
            why = (
                "a registry query bench does not time (correctness-"
                "only, or it re-runs work timed under another name)"
                if bad in Q.QUERIES else "unknown"
            )
            print(
                f"bench: BENCH_QUERIES entry {bad!r} ignored ({why})",
                file=sys.stderr,
            )

    # Warm-up: spawn/reuse python workers, trigger codegen + Arrow path
    # JIT once, so timings measure the job, not JVM/worker bring-up.
    warm = S.CorpusConfig(n_docs=64)
    extract(
        S.docs_df(spark, warm), S.media_df(spark, warm), FIXTURE_JOB
    ).spans.count()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    timings: dict[str, float] = {}
    n_rows: dict[str, int] = {}
    shuffle_mb: dict[str, float] = {}

    def _shuffle_written() -> int:
        """Cumulative shuffle-write bytes across executors from the
        app-status store (works with spark.ui.enabled=false)."""
        ex = spark.sparkContext._jsc.sc().statusStore().executorList(False)
        return sum(ex.apply(i).totalShuffleWrite() for i in range(ex.size()))

    def _timed(name, fn):
        s0 = _shuffle_written()
        t0 = time.monotonic()
        n = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        time.sleep(0.2)  # let the async status bus drain this query's stages
        shuffle_mb[name] = round((_shuffle_written() - s0) / 1e6, 3)
        n_rows[name] = n

    def run(name, fn):
        if selected is not None and name not in selected:
            return
        Q.clear_caches(spark)  # cold, isolated, reproducible timing
        _timed(name, fn)

    def run_warm(name, fn):
        """Timed WITHOUT clearing caches first — for steady-state cost
        of a query whose one-off setup was just timed separately."""
        if selected is not None and name not in selected:
            return
        _timed(name, fn)

    run("extract_e2e", bench_extract)
    run("extract_e2e_interleaved", bench_extract_interleaved)
    for name in analytics:
        qfn, _ = Q.QUERIES[name]
        if name in ("ann_ivf", "dedup_semantic"):
            # VERDICT r3 #3: training is a train-once-broadcast job
            # (offline at cluster scale) — time it as its own line and
            # report the codebook consumers (ann_ivf, dedup_semantic)
            # as steady-state query cost over the already-trained
            # quantizer.  Selecting either implies the split: the
            # quantizer must be trained (timed ONCE as ann_ivf_train)
            # before the steady-state queries run.
            if (
                selected is None
                or name in selected
                or "ann_ivf_train" in selected
            ) and "ann_ivf_train" not in timings:
                Q.clear_caches(spark)
                _timed(
                    "ann_ivf_train",
                    lambda: len(Q.ann_ivf_train(spark, sf_dir)),
                )
            run_warm(name, lambda qfn=qfn: force(qfn(spark, sf_dir)))
        elif name == "dedup_clusters":
            # VERDICT r4 "What's wrong #3": under cold isolation the
            # CC query re-mined the simhash pairs (~3.5 s) before the
            # label loop, double-counting work already measured as
            # dedup_simhash_pairs.  Same treatment as ann_ivf_train:
            # the pair mine is timed as its own line (immediately
            # above in the list, result persisted by the query), and
            # clusters runs WARM so its number is the steady-state
            # label-propagation loop over the mined pair table.
            if (
                selected is None or name in selected
            ) and "dedup_simhash_pairs" not in timings:
                Q.clear_caches(spark)
                _timed(
                    "dedup_simhash_pairs",
                    lambda: force(
                        Q.QUERIES["dedup_simhash_pairs"][0](spark, sf_dir)
                    ),
                )
            run_warm(name, lambda qfn=qfn: force(qfn(spark, sf_dir)))
        elif name == "bpe_encode":
            # same split as ann_ivf / dedup_clusters: training is a
            # train-once job already timed as bpe_merges; encode runs
            # WARM over the memoized merge table so its number is the
            # steady-state tokenize-the-corpus cost, not a re-train.
            if (
                selected is None or name in selected
            ) and "bpe_merges" not in timings:
                Q.clear_caches(spark)
                _timed(
                    "bpe_merges",
                    lambda: force(
                        Q.QUERIES["bpe_merges"][0](spark, sf_dir)
                    ),
                )
            run_warm(name, lambda qfn=qfn: force(qfn(spark, sf_dir)))
        else:
            run(name, lambda qfn=qfn: force(qfn(spark, sf_dir)))

    total = round(sum(timings.values()), 3)
    # Full per-query detail goes to a SIDECAR file: with ~90 queries the
    # three per-query dicts pushed the stdout line past the driver's
    # tail-capture buffer and BENCH_r04.json came back parsed:null
    # (VERDICT r4 "What's wrong #1").  The stdout line keeps the
    # headline fields plus as many of the most expensive per-query
    # timings as fit a hard line budget; everything lives in the
    # sidecar.
    detail = {
        "metric": "headline_queries_total_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "queries": timings,
        "rows": n_rows,
        "shuffle_write_mb": shuffle_mb,
    }
    if "extract_e2e" in timings and timings["extract_e2e"] > 0:
        detail["docs_per_sec"] = round(n_docs / timings["extract_e2e"], 2)
    detail_path = os.environ.get(
        "BENCH_DETAIL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    out = {
        "metric": detail["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "n_queries": len(timings),
        "total_shuffle_mb": round(sum(shuffle_mb.values()), 1),
        "detail": os.path.basename(detail_path),
        "queries": {},
    }
    if "docs_per_sec" in detail:
        out["docs_per_sec"] = detail["docs_per_sec"]
    # most-expensive-first, admitted while the serialized line stays
    # under the budget; the driver's tail capture truncates somewhere
    # past ~2000 chars, so stop well short of it
    line_budget = int(os.environ.get("BENCH_LINE_BUDGET", "1400"))
    for qname in sorted(timings, key=timings.get, reverse=True):
        out["queries"][qname] = timings[qname]
        if len(json.dumps(out)) > line_budget:
            del out["queries"][qname]
            break
    out["queries_omitted"] = len(timings) - len(out["queries"])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
