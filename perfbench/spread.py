"""Run one workload over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values over their median, next to the metric's bound.

    python3 perfbench/spread.py --workload NAME --seeds 1,2,3 [--log runs.jsonl]

Run from the repository root. Runs are made one after another, each as
its own ``run.py`` process with ``BENCHMARK.json``'s ``run_seconds``.
With ``--log``, each run's result line and record are appended to that
file as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    ap.add_argument("--log")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in (int(s) for s in args.seeds.split(",")):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            return 1
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall, "result": result, "record": record}) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} "
              f"{result['failed']}/{result['attempted']} failed", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for name, v in values.items():
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med if med else float("nan")
        mark = "" if spread < bounds[name] / 3 else " (over a third of the bound)"
        print(f"{name:28s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.4f} {bounds[name]:6.2f}{mark}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
