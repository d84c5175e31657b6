"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}, then a compact
positional line of every time, then a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    spark = get_spark("mongo_analyser_spark_bench", cpus=cpus)

    # warm-up pass: run every query once un-timed so the timed pass
    # measures steady-state execution (the plan), not JIT/codegen
    # compilation and classloading — higher-order-function and Pandas-UDF
    # codepaths each have their own first-run cost a single warmup query
    # doesn't touch. The warm-up's generated classes (~2,000 for the
    # registry) stay compiled for the timed reps because get_spark sizes
    # Spark's class cache to hold them (session.CODEGEN_CACHE_ENTRIES);
    # at Spark's default of 100 they were evicted long before each row's
    # reps, whose first rep then recompiled them.
    # a builder that returns non-DataFrame (e.g. a mid-edit stub whose
    # body is `pass`) must fail HERE with its NAME, not as an anonymous
    # AttributeError deep in collect() — BENCH_r12 rc 1 post-mortem
    from pyspark.sql import DataFrame

    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        if not isinstance(df, DataFrame):
            raise RuntimeError(
                f"query {name!r} builder returned {type(df).__name__}, "
                "not a DataFrame — unfinished registration?"
            )
        df.collect()

    # min-of-N per query: a single interleaved pass carries ±0.3-1 s
    # container jitter (occasionally multi-second pauses spanning
    # ADJACENT queries — BASELINE.md jitter sweeps #1/#2), which used to
    # put spurious >1.5× readings in BENCH_rN rows. The minimum over
    # consecutive reps is the jitter-robust estimator of plan cost at
    # these absolute times (0.1-4 s); reps are consecutive per query so
    # one pause can inflate at most one rep.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    for line in output_lines(timings, sf_val):
        print(line)


def output_lines(timings: dict[str, float], sf_val) -> list[str]:
    """The bench's three stdout lines: the full per-query line, the
    compact positional line, and the summary line last."""
    root = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(root, "tools"))
    from bench_compare import baseline_rows, order_hash

    full = {
        "metric": "total_query_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # A consumer that keeps only the last 2,000 characters of stdout loses
    # the front of the full line past ~170 rows. This line holds every
    # time in registry order, in integer ms (~1 KB for 201 rows);
    # tools/bench_compare.py maps the positions back to names when
    # ``order`` matches the registry's name order.
    names = list(timings)
    compact = {
        "metric": "bench_times",
        "unit": "ms",
        "n": len(names),
        "order": order_hash(names),
        "sf": sf_val,
        "ms": [round(timings[q] * 1000) for q in names],
    }
    # vs_baseline is best-effort (needs BASELINE.md next to this file)
    worst_name, worst_ratio, agg = None, None, None
    try:
        base = baseline_rows(os.path.join(root, "BASELINE.md"), quiet=True)
        common = [q for q in timings if q in base and base[q] > 0]
        if common:
            agg = round(
                sum(timings[q] for q in common) / sum(base[q] for q in common), 3
            )
            worst_name = max(common, key=lambda q: timings[q] / base[q])
            worst_ratio = round(timings[worst_name] / base[worst_name], 2)
    except Exception:
        pass
    summary = {
        "metric": "bench_summary",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n": len(timings),
        "sf": sf_val,
        "vs_baseline": agg,
        "worst_query": worst_name,
        "worst_ratio": worst_ratio,
    }
    return [
        json.dumps(full),
        json.dumps(compact, separators=(",", ":")),
        json.dumps(summary),
    ]

if __name__ == "__main__":
    main()
