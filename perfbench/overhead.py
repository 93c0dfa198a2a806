"""Tracing overhead: traced minus untraced, per end-to-end metric, for
one workload and seed. The traced run keeps the end-to-end figures it
measured with tracing on in ``.perfbench/out/<workload>-seed<n>/e2e.json``.

    python3 perfbench/overhead.py --workload cdc_live_tail --seed 1 [--seconds 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    runs = {}
    for trace in (0, 1):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        runs[trace] = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "out",
                        f"{args.workload}-seed{args.seed}", "e2e.json")
    with open(path, encoding="utf-8") as fh:
        traced = json.load(fh)
    print(f"{'metric':<16}{'untraced':>12}{'traced':>12}{'overhead':>12}")
    for k, m in runs[0]["metrics"].items():
        print(f"{k:<16}{m['value']:>12.4f}{traced[k]:>12.4f}{traced[k] - m['value']:>12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
