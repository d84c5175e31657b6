"""Solo warm-median timing for specific queries — the BASELINE.md
measurement method for any row under perf investigation. Full-registry
bench runs interleave 80+ queries and carry ±0.3-1 s per-query jitter;
a >2× reading is only REAL if it reproduces here.

Usage: python tools/solo_median.py <query>[,query...] [--n 10] [--sf SF_DIR]

Prints one line per query: median / min / max over n warm reps
(1 untimed warm-up first), plus the machine-readable JSON line the
BASELINE.md method note asks to record.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    names = args[0].split(",")
    n = int(args[args.index("--n") + 1]) if "--n" in args else 10
    sf_dir = (
        args[args.index("--sf") + 1]
        if "--sf" in args
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    spark = get_spark("solo_median")
    out = {}
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).collect()  # warm-up, untimed
        ts = []
        for _ in range(n):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            ts.append(time.time() - t0)
        out[name] = {
            "median": round(statistics.median(ts), 3),
            "min": round(min(ts), 3),
            "max": round(max(ts), 3),
            "n": n,
        }
        print(
            f"{name}: median {out[name]['median']}s "
            f"(min {out[name]['min']} / max {out[name]['max']}, n={n})"
        )
    print(json.dumps({"sf_dir": sf_dir, "timings": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
