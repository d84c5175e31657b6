"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.
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
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    # Per-query results AGAIN as chunked <=50-row lines (verdict-r15 #2):
    # the driver keeps only the TAIL of stdout and the single 201-row
    # line above front-truncates past ~170 rows, which left PERF_r15
    # with per_query {} and a null geomean. Chunks are short enough that
    # all of them + the summary fit in any plausible tail window.
    # Additions only: the full line above and the bench_summary line
    # below are byte-compatible with every earlier round.
    names = list(timings)
    chunk = 50
    nparts = (len(names) + chunk - 1) // chunk
    for part in range(nparts):
        sub = names[part * chunk : (part + 1) * chunk]
        print(
            json.dumps(
                {
                    "metric": "bench_queries",
                    "part": part + 1,
                    "nparts": nparts,
                    "sf": sf_val,
                    "queries": {q: timings[q] for q in sub},
                }
            )
        )
    # Compact summary as the LAST line: the driver keeps only the tail of
    # stdout, and the full per-query line above front-truncates past ~170
    # registry rows, losing the headline numbers. The summary line always
    # survives truncation and is schema-compatible (metric/value/unit/sf)
    # if a consumer parses only the final line. vs_baseline is best-effort
    # (needs BASELINE.md next to this file).
    worst_name, worst_ratio, agg = None, None, None
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from bench_compare import baseline_rows

        base = baseline_rows(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md"),
            quiet=True,
        )
        common = [q for q in timings if q in base and base[q] > 0]
        if common:
            agg = round(
                sum(timings[q] for q in common) / sum(base[q] for q in common), 3
            )
            worst_name = max(common, key=lambda q: timings[q] / base[q])
            worst_ratio = round(timings[worst_name] / base[worst_name], 2)
    except Exception:
        pass
    print(
        json.dumps(
            {
                "metric": "bench_summary",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "n": len(timings),
                "sf": sf_val,
                "vs_baseline": agg,
                "worst_query": worst_name,
                "worst_ratio": worst_ratio,
            }
        )
    )


if __name__ == "__main__":
    main()
