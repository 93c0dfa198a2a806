"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median) — the figure
the benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload cdc_live_tail --seeds 1-10 \\
        [--seconds 8] [--out runs.jsonl]

Each run's JSON line is appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        drift = " CANARY DRIFT" if "canary drift" in proc.stderr else ""
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}{drift}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.out:
            with open(args.out, "a", encoding="utf-8") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "wall_s": wall, "result": res}) + "\n")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':<16}{'median':>12}{'spread':>9}{'bound':>8}  n")
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:<16}{median(vs):>12.4f}{spread:>9.3f}{bounds.get(k, 0):>8.2f}  {len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
