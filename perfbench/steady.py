"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads interactive,curate --seeds 1-10 \
        [--trace 0] [--seconds 1] [--out .perfbench/steady.jsonl]

Run from the repository root. Each run is a fresh process. For every
workload and metric it prints the median, the first
and third quartile (statistics.quantiles(n=4)) and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
Every run's two result lines are appended to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="interactive,curate")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=int)
    p.add_argument("--out", default=os.path.join(".perfbench", "steady.jsonl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)

    ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(args.trace),
            ]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.perf_counter() - t0)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {res.returncode}", file=sys.stderr)
                ok = False
                continue
            result = json.loads(lines[-1])
            ok &= result["correct"]
            with open(args.out, "a") as fh:
                for line in lines[-2:]:
                    fh.write(line + "\n")
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"\n{wl}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"  {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            print(f"  {name:34s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{'' if bound is None else bound:>6}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
