"""Compare two sets of benchmark results, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE_RESULTS_DIR NEW_RESULTS_DIR

Each directory holds the records ``run.py`` writes to
``.perfbench/results/``.  Results are only comparable when they were
taken on the same host set-up, so the comparison is refused (exit 2)
unless every record carries the same host facts: nproc, local[N],
Python, PySpark and Java versions and the resolved OCR engine.

For each workload and metric it prints both medians, the base's
quartile spread as a share of its median, and the change as a share of
the base median, marking a change worse than the metric's bound in
BENCHMARK.json as a regression and a metric whose spread exceeds its
bound as unresolved.  Exit 1 when anything regressed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if not rec["trace"]:
            recs.append(rec)
    return recs


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    if len(values) < 2:
        return float("nan")
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    if not base or not new:
        print("no timed (--trace 0) results in one of the directories",
              file=sys.stderr)
        return 2
    facts = {json.dumps(r["facts"], sort_keys=True) for r in base + new}
    if len(facts) > 1:
        print("refusing to compare results taken on different host "
              "set-ups:\n  " + "\n  ".join(sorted(facts)), file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    print("host:", facts.pop())
    regressed = False
    for wl in sorted({r["workload"] for r in base + new}):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            b = [r["metrics"][name]["value"] for r in base if r["workload"] == wl]
            n = [r["metrics"][name]["value"] for r in new if r["workload"] == wl]
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb
            worse = change > bound if m["better"] == "lower" else -change > bound
            s = spread(b)
            verdict = (
                "REGRESSED" if worse
                else "unresolved" if s > bound
                else "within bound"
            )
            regressed |= worse
            print(f"{wl:24s} {name:16s} {mb:12.4f} -> {mn:12.4f} {m['unit']:4s}"
                  f" change {change:+.3f} spread {s:.3f} bound {bound}"
                  f" (n={len(b)}/{len(n)}) {verdict}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
