"""Split each registry row's bench time into BUILD (Python/py4j
DataFrame construction — ``QUERIES[name](spark, sf_dir)`` returning)
and EXEC (``.collect()``) phases, min-of-N per phase, same warm-session
methodology as bench.py. The build phase is pure driver-side work
(py4j round trips, plan-tree construction); guide §1.2's "per-task
work" ordering applies only to EXEC — a row whose BUILD dominates is
a py4j-chatter target (verdict-r15 #3), not a plan problem.

Usage: python tools/phase_split.py [query,query,... | --all] [--n 5]
Prints one JSON line per query {name, build, exec, total} plus a
sorted-by-build summary table on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    n = int(args[args.index("--n") + 1]) if "--n" in args else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    if args and not args[0].startswith("--"):
        names = args[0].split(",")
    else:
        names = list(QUERIES)

    spark = get_spark("phase_split")

    rows = []
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).collect()  # warm (codegen, schema memo, kernels)
        best_b, best_e, best_t = float("inf"), float("inf"), float("inf")
        for _ in range(n):
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.collect()
            t2 = time.time()
            best_b = min(best_b, t1 - t0)
            best_e = min(best_e, t2 - t1)
            best_t = min(best_t, t2 - t0)
        rows.append(
            {
                "name": name,
                "build": round(best_b, 3),
                "exec": round(best_e, 3),
                "total": round(best_t, 3),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    rows.sort(key=lambda r: -r["build"])
    print("\n== sorted by build phase ==", file=sys.stderr)
    for r in rows:
        print(
            f"  {r['name']:45s} build={r['build']:6.3f}  exec={r['exec']:6.3f}",
            file=sys.stderr,
        )
    print(
        f"  TOTAL build={sum(r['build'] for r in rows):.2f} "
        f"exec={sum(r['exec'] for r in rows):.2f}",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
