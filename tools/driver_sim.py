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
import time

from check_oracle import multiset, oracle_views


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    # deliberately NOT get_spark(): no nanosAsLong, no UTC pin, no AQE
    # tuning — whatever the engine needs it must set itself at read time
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from mongo_analyser_spark.queries import ORACLE_GENERATORS, ORACLES, QUERIES
    from mongo_analyser_spark.queries_pipeline import ORACLE_SF_DIR

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ORACLE_SF_DIR
    only = set(sys.argv[2:])

    con = oracle_views(sf_dir)

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in ORACLES:  # rows-only sketch queries
                status = "OK" if srows else "FAIL"
                print(f"  {name}: {status} rows={len(srows)} (rows-only) [{time.time()-t0:.1f}s]")
                if not srows:
                    failures.append(name)
                continue
            osql = (ORACLE_GENERATORS[name](sf_dir)
                    if name in ORACLE_GENERATORS else ORACLES[name])
            ores = con.execute(osql)
            ocols = [d[0] for d in ores.description]
            orows = [tuple(r) for r in ores.fetchall()]
            ok = (
                sorted(scols) == sorted(ocols)
                and len(srows) == len(orows)
                and multiset(srows, scols) == multiset(orows, ocols)
            )
            if not ok:
                failures.append(name)
                print(f"  {name}: FAIL rows={len(srows)}/{len(orows)}")
            else:
                print(f"  {name}: OK rows={len(srows)} [{time.time()-t0:.1f}s]")
        except Exception as e:
            failures.append(name)
            print(f"  {name}: ERR {str(e).splitlines()[0][:140]}")
    checked = len(only) if only else len(QUERIES)
    print(f"\n{checked - len(failures)}/{checked} OK under bare session (TZ={os.environ.get('TZ', 'system')})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
