"""Measured hot-key-join evidence for SCALE.md (verdict-r7 #6).

Builds a deliberately skewed events variant (one user owns ~60% of all
rows — the "one customer dominates the fact table" pileup) and times the
three ways to execute fact⋈dim on the skewed key at sf0.1, with
broadcast DISABLED so the join actually shuffles (the 100-TB shape where
the dim stopped fitting in memory):

  plain        sort-merge join, AQE skew handling off — the straggler
               baseline: the hot key's entire row set lands on ONE task.
  aqe_skew     AQE skewJoin on, thresholds lowered so the optimizer can
               see toy-scale partitions as "skewed" (at real scale the
               DEFAULT 256 MB threshold fires on its own; the lowered
               value stands in for partitions that big).
  salted16/64  operators/relational.salted_join — content-derived salt
               splits the hot key across N reducers unconditionally.

Every strategy is timed on a FRESH plan per rep (median of --reps, the
solo_median.py discipline) and verified to produce the identical
aggregate checksum. Prints a markdown table for SCALE.md + one JSON line.

Usage: python tools/skew_probe.py [--reps 3] [--hot-frac 0.6]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.operators.relational import salted_join
    from mongo_analyser_spark.sources.parquet import load_table

    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--hot-frac", type=float, default=0.6)
    ap.add_argument(
        "--inflate",
        type=int,
        default=30,
        help="fact-row multiplier (explode, applied once at fixture-write "
        "time): sf0.1's 100k events are too small for a single-reducer "
        "pile to register on the clock; x30 makes the hot key ~1.8M rows",
    )
    args = ap.parse_args()

    spark = get_spark("skew_probe")

    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    hot_id = cust.agg(F.min("user_id")).collect()[0][0]

    with tempfile.TemporaryDirectory(prefix="skew_events_") as tmp:
        skew_path = os.path.join(tmp, "events_skewed")
        ev = load_table(spark, SF, "events")
        # remap ~hot_frac of rows (content-derived, deterministic) onto
        # ONE existing customer key; spread across 32 files so the scan
        # itself is parallel and only the join key is skewed
        (
            ev.withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(args.inflate - 1))))
            .withColumn(
                "event_id",
                (F.col("event_id") * args.inflate + F.col("__rep")).cast("long"),
            )
            .drop("__rep")
            .withColumn(
                "user_id",
                F.when(
                    F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(1000))
                    < int(args.hot_frac * 1000),
                    F.lit(hot_id).cast("long"),
                ).otherwise(F.col("user_id").cast("long")),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(skew_path)
        )
        n_total = spark.read.parquet(skew_path).count()
        n_hot = (
            spark.read.parquet(skew_path).where(F.col("user_id") == hot_id).count()
        )

        def agg_of(joined):
            return (
                joined.groupBy("user_id", "c_name")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
                )
            )

        def checksum(df):
            r = df.agg(
                F.sum("n").alias("n"), F.sum("s").cast("string").alias("s")
            ).collect()[0]
            return (r["n"], r["s"])

        # broadcast off for every strategy: the probe models the regime
        # where the dim does NOT broadcast (else skew is moot)
        base_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        strategies = {
            "plain": (
                {**base_conf, "spark.sql.adaptive.skewJoin.enabled": "false"},
                lambda f, d: f.join(d, "user_id"),
            ),
            "aqe_skew": (
                {
                    **base_conf,
                    "spark.sql.adaptive.skewJoin.enabled": "true",
                    # stand-in for the default 256 MB threshold, which at
                    # real scale fires without help
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
                },
                lambda f, d: f.join(d, "user_id"),
            ),
            "aqe_skew_forced": (
                {
                    **base_conf,
                    "spark.sql.adaptive.skewJoin.enabled": "true",
                    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
                    # the downstream groupBy reuses the join's hash
                    # partitioning, so OptimizeSkewedJoin declines to
                    # split (it would add a shuffle) unless forced
                    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
                },
                lambda f, d: f.join(d, "user_id"),
            ),
            "salted16": (
                {**base_conf, "spark.sql.adaptive.skewJoin.enabled": "false"},
                lambda f, d: salted_join(f, d, "user_id", buckets=16),
            ),
            "salted64": (
                {**base_conf, "spark.sql.adaptive.skewJoin.enabled": "false"},
                lambda f, d: salted_join(f, d, "user_id", buckets=64),
            ),
        }

        saved = {
            k: spark.conf.get(k, None)
            for conf, _ in strategies.values()
            for k in conf
        }
        results: dict[str, dict] = {}
        sums = set()
        for name, (conf, plan) in strategies.items():
            for k, v in conf.items():
                spark.conf.set(k, v)
            times = []
            for _ in range(args.reps):
                fact = spark.read.parquet(skew_path)  # fresh plan per rep
                t0 = time.time()
                cs = checksum(agg_of(plan(fact, cust)))
                times.append(time.time() - t0)
            sums.add(cs)
            results[name] = {"median_s": round(statistics.median(times), 3)}
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

        assert len(sums) == 1, f"strategies disagree: {sums}"
        base = results["plain"]["median_s"]
        print(
            f"skew fixture: {n_total} events, hot key owns {n_hot} "
            f"({100.0 * n_hot / n_total:.1f}%), broadcast disabled, reps={args.reps}\n"
        )
        print("| strategy | median (s) | vs plain |")
        print("|---|---|---|")
        for name, r in results.items():
            r["vs_plain"] = round(r["median_s"] / base, 2)
            print(f"| {name} | {r['median_s']:.2f} | {r['vs_plain']:.2f}x |")
        print()
        print(
            json.dumps(
                {
                    "metric": "skew_probe",
                    "sf_dir": SF,
                    "hot_frac": round(n_hot / n_total, 4),
                    "results": results,
                }
            )
        )


if __name__ == "__main__":
    main()
