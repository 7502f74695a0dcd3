"""Extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload images_cold --seed 1 --seconds 10 --trace 0

Run from the repository root.  Starts a local[nproc] session, sets up
the workload's inputs, then repeats the workload's call until
``--seconds`` have passed, checking every call's spans against the
generator goldens.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones (from one more, captured call and a
single-core replay of its work units).  ``attempted`` counts expected
spans over all checked calls, ``failed`` the spans the gate rejected,
so failed / attempted is the run's failed-span share.

Everything the run writes stays under ``.perfbench/``: the Spark and
JVM scratch space, the inputs, a log of the JVM's stderr, the full
result record (``results/``, with host facts and every sample) and the
traced run's spans (``traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench")
SETUP_REPS = 3

END_TO_END = {  # name -> unit
    "docs_per_s": "1/s", "cpu_s_per_kdoc": "s", "shuffle_mb": "MB",
    "peak_rss_mb": "MB", "setup_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def scratch_env(run_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    the console free of progress bars."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fixed, small heap: G1 grows the heap with GC pressure, which made
    # the JVM's share of peak_rss_mb vary twofold between runs at 2g
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
        ),
        "pyspark-shell",
    ])


def host_facts(spark, cores: int) -> dict:
    import pyspark

    from mcp_ocr_server_spark.ocr.engine import resolved_engine
    from workloads import JOB

    return dict(
        nproc=cores,
        master=spark.sparkContext.master,
        python=platform.python_version(),
        pyspark=pyspark.__version__,
        java=spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        ),
        ocr_engine=resolved_engine(JOB.ocr),
    )


def median(samples: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in samples)


def run(args, run_dir: str, log_path: str, session: list) -> dict:
    """One run; the Spark session it starts is appended to ``session``
    so the caller can stop it whatever happens."""
    import gate
    import layers
    import measure
    import workloads as W
    from mcp_ocr_server_spark.session import get_spark

    wl = W.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    t_start = time.perf_counter()
    inputs = W.Inputs(wl, args.seed)

    # ---- set-up: start the session, read the inputs (SETUP_REPS times,
    # the median counts), warm up.  Writing the inputs is not timed.
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", cfg=W.JOB,
        shuffle_partitions=max(cores, 8),
    )
    session_s = time.perf_counter() - t0
    session.append(spark)
    rec = dict(facts=host_facts(spark, cores), workload=wl.name,
               seed=args.seed, trace=args.trace, seconds=args.seconds)
    probe = measure.SparkProbe(spark)
    docs_path = os.path.join(run_dir, "docs")
    library = os.path.join(WORK, "library", inputs.library_key)
    W.write_inputs(spark, inputs, docs_path, library)
    t_written = time.perf_counter()
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        tables = W.Tables(spark, wl, docs_path, library)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    W.warm_up(spark, wl, tables)
    warm_s = time.perf_counter() - t0
    rec["setup"] = dict(session_s=session_s, read_s=reps, warm_up_s=warm_s)

    # ---- untimed: the goldens
    os.makedirs(os.path.join(WORK, "goldens"), exist_ok=True)
    media_gold, pdf_gold = gate.goldens(
        spark, inputs.cfg, W.JOB,
        os.path.join(WORK, "goldens", f"{inputs.library_key}.json"),
    )
    expected = gate.expected_spans(
        inputs.cfg, W.JOB, inputs.doc_indices, media_gold, pdf_gold
    )

    t_prepared = time.perf_counter()

    # ---- timed calls
    samples, checked = [], []
    start = time.perf_counter()
    while not samples or time.perf_counter() - start < args.seconds:
        out = os.path.join(run_dir, f"out{len(samples)}")
        probe.drain()
        shuffle0, cpu0 = probe.shuffle_written(), measure.tree_cpu_s()
        steal0 = measure.host_cpu_ticks()
        with measure.PeakRss() as rss:
            t0 = time.perf_counter()
            read = W.run_call(spark, wl, tables, out)
            wall = time.perf_counter() - t0
        cpu = measure.tree_cpu_s() - cpu0
        steal = [b - a for a, b in zip(steal0, measure.host_cpu_ticks())]
        probe.drain()
        shuffle = probe.shuffle_written() - shuffle0
        rows = read()
        verdict = gate.compare(rows, expected)
        if not checked:
            rec["self_test"] = gate.self_test(rows, expected) if not verdict[
                "failed"] else None
        checked.append(verdict)
        samples.append(dict(wall_s=wall, cpu_s=cpu, shuffle_bytes=shuffle,
                            peak_rss_bytes=rss.peak, peak_rss_by=rss.by_command,
                            host_steal_share=steal[0] / max(steal[1], 1)))
        W.clear(out)
    rec["samples"] = samples
    rec["phases_s"] = dict(
        inputs=t_written - t_start - session_s,
        setup=session_s + sum(reps) + warm_s,
        goldens=t_prepared - t_written - sum(reps) - warm_s,
        timed=time.perf_counter() - start,
    )

    n = wl.n_docs
    metrics = {
        "docs_per_s": n / median(samples, "wall_s"),
        "cpu_s_per_kdoc": 1000.0 * median(samples, "cpu_s") / n,
        "shuffle_mb": median(samples, "shuffle_bytes") / 1e6,
        "peak_rss_mb": median(samples, "peak_rss_bytes") / 1e6,
        "setup_s": session_s + statistics.median(reps) + warm_s,
    }
    units = dict(END_TO_END)
    if args.trace:
        m = traced(
            spark, probe, wl, inputs, tables, expected, samples, checked,
            run_dir, cores, args,
        )
        m["log.warn_lines"] = count_warn_lines(log_path)
        metrics = {k: m[k] for k in layers.PER_LAYER}
        units = {k: u for k, (u, _better) in layers.PER_LAYER.items()}

    rec["gate"] = checked
    rec["metrics"] = {k: dict(value=v, unit=units[k]) for k, v in metrics.items()}
    return rec


def traced(spark, probe, wl, inputs, tables, expected, samples, checked,
           run_dir, cores, args):
    """One more call with the status store captured, then the replay of
    its distinct work units on one core."""
    import gate
    import layers
    import workloads as W

    out = os.path.join(run_dir, "traced")
    mark = probe.mark()
    t0 = time.perf_counter()
    read = W.run_call(spark, wl, tables, out)
    traced_wall = time.perf_counter() - t0
    cap = probe.capture(mark)
    checked.append(gate.compare(read(), expected))
    ckpt = layers.checkpoint_metrics(out if wl.buckets else None)

    units = W.call_units(spark, wl, inputs, tables)
    tr = layers.replay(W.JOB, units.images, inputs.html, units.pdfs)
    m = layers.span_metrics(tr)
    m.update(layers.spark_metrics(cap, inputs.image_spans, units.lookups))
    m.update(ckpt)
    m["pdf.parses_per_distinct"] = (
        sum(units.pdf_parses.values()) / len(units.pdfs) if units.pdfs else 0.0
    )
    own = tr.self_times()
    work = [s for s in tr.spans if s["name"] == "media_ocr.work_unit"]
    m["media_ocr.boundary_s"] = m["media_ocr.stage_run_s"] - sum(
        s["end"] - s["start"] for s in work
    )
    # named layers: every replayed span but the work-unit glue, each pdf
    # weighted by the number of buckets that parse it
    named_s = sum(
        own[s["id"]] * (
            units.pdf_parses[s["unit"]] if s["name"] == "pdf.pdf_text_row" else 1
        )
        for s in tr.spans if s["name"] != "media_ocr.work_unit"
    )
    untraced = median(samples, "wall_s")
    m["trace.wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - untraced
    m["trace.named_share"] = named_s / (cores * traced_wall)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    layers.write_trace(
        os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json"), tr, cap
    )
    W.clear(out)
    return m


def count_warn_lines(log_path: str) -> int:
    with open(log_path, errors="replace") as fh:
        return sum(1 for line in fh if " WARN " in line)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    import measure

    pids = measure.tree_pids()
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    measure.stop_tree(pids)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{args.workload}")
    import workloads as W  # fails fast outside a full checkout

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    W.clear(run_dir)
    for d in ("logs", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    scratch_env(run_dir)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    saved_err = os.dup(2)
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)  # the JVM inherits it: its log lands here
    rec, status, session = None, 1, []
    try:
        rec = run(args, run_dir, log_path, session)
        status = 0
    except Exception:
        traceback.print_exc()
    finally:
        if session:
            try:
                t0 = time.perf_counter()
                stop_spark(session[0])
                if rec is not None:
                    rec["phases_s"]["stop"] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                status = 1
        os.dup2(saved_err, 2)
        os.close(saved_err)
        W.clear(run_dir)
    if status:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"perfbench: run failed, full log in {log_path}", file=sys.stderr)
        return status
    return report(rec, tag)


def report(rec: dict, tag: str) -> int:
    with open(os.path.join(WORK, "results", f"{tag}-{int(time.time())}.json"),
              "w") as fh:
        json.dump(rec, fh, indent=1)
    attempted = sum(g["attempted"] for g in rec["gate"])
    failed = sum(g["failed"] for g in rec["gate"])
    print("host:", json.dumps(rec["facts"], sort_keys=True))
    for name, m in rec["metrics"].items():
        print(f"  {name:36s} {m['value']:12.4f} {m['unit']}")
    if not rec["trace"]:
        print(f"  (medians over {len(rec['samples'])} timed calls; setup_s "
              f"uses the median of {SETUP_REPS} input reads)")
    print(f"gate: {failed} of {attempted} spans failed "
          f"(failed_share {failed / attempted:.6f}); self-test "
          + ("caught every corrupted row" if rec.get("self_test")
             else "not run (the calls were not clean)"))
    print(json.dumps(dict(
        correct=failed == 0 and bool(rec.get("self_test")),
        attempted=attempted, failed=failed,
        metrics=rec["metrics"],
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
