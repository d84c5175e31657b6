"""Adversarial replica of the EXTERNAL correctness harness: a BARE
SparkSession (none of session.py's configs) under a non-UTC process
timezone, every registered query compared to its DuckDB oracle.

Round 1 failed 15/50 driver checks because load_table assumed a
builder-applied config (nanosAsLong); this gate exists so any new
session-default dependency fails HERE, not in the external harness.

Usage: TZ=America/Chicago python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

from check_oracle import check


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    # deliberately NOT get_spark(): no nanosAsLong, no UTC pin, no AQE
    # tuning — whatever the engine needs it must set itself at read time
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from mongo_analyser_spark.queries_pipeline import ORACLE_SF_DIR

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ORACLE_SF_DIR
    n_ran, failures = check(spark, sf_dir, set(sys.argv[2:]))
    n_ok = n_ran - len(set(f[0] for f in failures))
    print(f"\n{n_ok}/{n_ran} OK under bare session (TZ={os.environ.get('TZ', 'system')})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
