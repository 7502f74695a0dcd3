"""Run every workload once and print each end-to-end metric by name and
unit, with the correctness gate's verdict.

    python3 perfbench/report.py [--seed N] [--seconds S]

Run from the repository root.  Each workload runs in its own process
(``run.py``), as a timed run would; exit 1 when any run fails or any
gate rejects a span.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    ok = True
    for wl in spec["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", wl["name"], "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print(f"{wl['name']}: {wl['why']}")
        if proc.returncode or not lines:
            print(f"  run failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            ok = False
            continue
        res = json.loads(lines[-1])
        for m in spec["end_to_end"]:
            v = res["metrics"][m["name"]]
            print(f"  {m['name']:16s} {v['value']:12.4f} {v['unit']:4s}"
                  f" ({m['better']} is better, bound {m['bound']})")
        print(f"  gate: {res['failed']} of {res['attempted']} spans failed,"
              f" correct={res['correct']}")
        ok &= res["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
