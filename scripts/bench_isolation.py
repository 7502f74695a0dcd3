"""Isolation probe: MEASURED evidence for the executor-bandwidth claim
(VERDICT r4 next #4).

The analytics family's single-box 2 -> 8 core efficiency landed at
0.793 in r4, and BENCH/BASELINE.md ARGUED the shortfall is host-shared
memory/page-cache bandwidth (a term a multi-executor cluster does not
have, because every executor host brings its own).  This script
measures it instead of arguing it, with a WEAK-SCALING concurrency
sweep:

    c ∈ {1, 2, 4} concurrent single-JVM Spark processes, each
    local[K] (default 4), each running the IDENTICAL analytics query
    over the IDENTICAL input (its own page-cache-shared read of the
    same parquet).

Cores are never oversubscribed (c·K ≤ 16 of 32), so on hardware with
private per-process bandwidth each process's wall time would be FLAT
in c — each "process" is exactly what a separate executor host is.
If per-process wall time GROWS with c while cores sit free, the
single host's shared resources are the measured bottleneck, and the
single-box core-scaling figure under-reads what N -> 4N *executors*
(the north rule's unit) would deliver.

Workers synchronize on a go-file barrier so their timed windows
overlap fully; each worker times ONLY the query action (session
bring-up and scan warm-up excluded — one untimed warm pass per worker
populates the page cache and JIT exactly like the main bench's
warm-up, so c=1 and c=4 start from the same cache state).

Writes BENCH/ISOLATION.md and prints one JSON line per sweep point.
Usage: python scripts/bench_isolation.py  (env: ISO_CORES, ISO_SWEEP,
ISO_REPL — see below).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ISO_CORES = int(os.environ.get("ISO_CORES", "4"))
ISO_SWEEP = [
    int(x) for x in os.environ.get("ISO_SWEEP", "1,2,4").split(",")
]
ISO_QUERY = os.environ.get("ISO_QUERY", "quality_filter")
ISO_REPL = int(os.environ.get("ISO_REPL", "160"))


def _worker(sf_dir: str, barrier_dir: str, idx: int) -> None:
    """One isolated Spark process: warm pass, barrier, timed pass."""
    from mcp_ocr_server_spark.config import FIXTURE_JOB
    from mcp_ocr_server_spark.session import get_spark
    import mcp_ocr_server_spark.queries as Q

    spark = get_spark(
        app_name=f"iso{idx}",
        master=f"local[{ISO_CORES}]",
        cfg=FIXTURE_JOB,
        shuffle_partitions=max(ISO_CORES, 8),
        jvm_heavy=True,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_once() -> float:
        Q.clear_caches(spark)
        df = Q.QUERIES[ISO_QUERY][0](spark, sf_dir)
        t0 = time.monotonic()
        df.selectExpr(
            "count(*) AS n", "bit_xor(xxhash64(struct(*))) AS h"
        ).collect()
        return time.monotonic() - t0

    run_once()  # warm: page cache, codegen, python workers
    open(os.path.join(barrier_dir, f"ready_{idx}"), "w").close()
    go = os.path.join(barrier_dir, "go")
    while not os.path.exists(go):
        time.sleep(0.05)
    secs = run_once()
    with open(os.path.join(barrier_dir, f"done_{idx}"), "w") as fh:
        fh.write(f"{secs:.3f}")
    spark.stop()


def _run_sweep_point(c: int, sf_dir: str) -> dict:
    import tempfile

    barrier_dir = tempfile.mkdtemp(prefix=f"iso_barrier_{c}_")
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--worker", sf_dir, barrier_dir, str(i)],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        for i in range(c)
    ]
    deadline = time.monotonic() + 900
    while time.monotonic() < deadline:
        ready = sum(
            os.path.exists(os.path.join(barrier_dir, f"ready_{i}"))
            for i in range(c)
        )
        if ready == c:
            break
        if any(
            p.poll() is not None and p.returncode != 0 for p in procs
        ):
            raise RuntimeError("isolation worker died before barrier")
        time.sleep(0.2)
    open(os.path.join(barrier_dir, "go"), "w").close()
    for p in procs:
        if p.wait(timeout=900) != 0:
            raise RuntimeError(f"isolation worker exited {p.returncode}")
    secs = [
        float(open(os.path.join(barrier_dir, f"done_{i}")).read())
        for i in range(c)
    ]
    return {
        "concurrency": c,
        "cores_each": ISO_CORES,
        "per_process_sec": [round(s, 3) for s in secs],
        "mean_sec": round(sum(secs) / len(secs), 3),
        "max_sec": round(max(secs), 3),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return

    os.environ.setdefault("SCALING_ANALYTICS_REPL", str(ISO_REPL))
    from scripts.bench_scaling import materialize_analytics_input

    sf_dir = materialize_analytics_input()
    repeats = int(os.environ.get("ISO_REPEATS", "2"))
    points = []
    for c in ISO_SWEEP:
        # best-of-N on the MEAN: the host carries ~5 cores of phantom
        # co-tenant load, so the minimum-interference repeat is the
        # honest estimate (same policy as bench_scaling.py)
        best = None
        for _ in range(repeats):
            pt = _run_sweep_point(c, sf_dir)
            if best is None or pt["mean_sec"] < best["mean_sec"]:
                best = pt
        points.append(best)
        print(json.dumps(best))

    base = points[0]["mean_sec"]
    md = [
        "# BENCH/ISOLATION — host-shared-bandwidth evidence",
        "",
        f"Weak-scaling sweep: c concurrent single-JVM Spark processes,",
        f"each local[{ISO_CORES}], each running `{ISO_QUERY}` over the",
        f"IDENTICAL {ISO_REPL}x-replicated documents table, barrier-",
        "synchronized so the timed windows overlap fully.  Cores are",
        f"never oversubscribed (max {max(ISO_SWEEP) * ISO_CORES} of 32",
        "used).  Each process is what a separate executor host is: if",
        "per-process wall grows with c while cores sit FREE, the",
        "single host's shared memory/page-cache bandwidth — not the",
        "job — is the measured ceiling, and single-box core-scaling",
        "under-reads N -> 4N *executor* scaling (the rule's unit).",
        "",
        "| concurrent procs | cores busy | per-proc wall s (mean) |"
        " slowdown vs c=1 | implied per-proc throughput share |",
        "|---|---|---|---|---|",
    ]
    for pt in points:
        slow = pt["mean_sec"] / base if base else float("nan")
        md.append(
            f"| {pt['concurrency']} | {pt['concurrency'] * ISO_CORES}"
            f" | {pt['mean_sec']:.2f} | {slow:.3f}x"
            f" | {1 / slow:.3f} |"
        )
    md += [
        "",
        "Per-process raw seconds: "
        + "; ".join(
            f"c={pt['concurrency']}: {pt['per_process_sec']}"
            for pt in points
        ),
        "",
        "Reading: flat (~1.0x) rows mean private-bandwidth behavior —",
        "adding same-size executors adds throughput linearly.  Rising",
        "slowdown with free cores is the host's shared-resource term",
        "measured directly; a multi-executor cluster does not carry it",
        "because each executor host brings its own memory bandwidth",
        "and page cache.",
    ]
    with open(os.path.join(REPO, "BENCH", "ISOLATION.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")
    with open(os.path.join(REPO, "BENCH", "isolation.json"), "w") as fh:
        json.dump(
            {"query": ISO_QUERY, "cores_each": ISO_CORES,
             "repl": ISO_REPL, "points": points},
            fh, indent=1,
        )
    print("wrote BENCH/ISOLATION.md + isolation.json")


if __name__ == "__main__":
    main()
