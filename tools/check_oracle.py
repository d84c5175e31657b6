"""Local replica of the driver's correctness gate: run each registered
Spark query and its DuckDB oracle twin side-by-side, compare row count,
column names, and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--skip name ...]

--skip downgrades a query to rows-only (Spark still runs; the oracle is
skipped) — for oracles that are impractical at a given scale, e.g. the
recursive-CTE cluster closure at sf0.1.

``check`` is the one compare loop: tools/driver_sim.py runs it under a
bare session, and importing this module loads neither Spark nor the
engine.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # the driver's value-hash is repr-level, where '-0.0' != '0.0';
        # Python tuple keys use ==, where -0.0 == 0.0 — surface the sign
        # so this gate sees what the driver sees (round-9 covariance bug)
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    return v


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for row in rows:
        key = tuple(norm(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def oracle_views(sf_dir: str):
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check(spark, sf_dir: str, only=(), skip=()) -> tuple[int, list]:
    """Run every registered query (or only those named in ``only``) on
    ``spark`` and compare it with its DuckDB twin over ``sf_dir``: column
    names, row count and the order-insensitive value multiset. Queries
    named in ``skip`` and queries without an oracle are checked for a
    non-empty result only. Each query is isolated, so one broken query
    does not hide the status of the rest. Prints one line per query;
    returns the number of queries run and the ``(name, problem)``
    failures."""
    from mongo_analyser_spark.queries import ORACLE_GENERATORS, ORACLES, QUERIES

    con = oracle_views(sf_dir)
    failures = []
    n_ran = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 — report and continue
            msg = str(e).splitlines()[0][:200]
            print(f"  {name}: ERR {msg} [{time.time()-t0:.1f}s]")
            failures.append((name, f"spark error: {msg}"))
            continue
        if name not in ORACLES or name in skip:
            why = "oracle skipped" if name in ORACLES else "no oracle"
            print(f"  {name}: rows={len(srows)} (rows-only, {why}) "
                  f"[{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            osql = (ORACLE_GENERATORS[name](sf_dir)
                    if name in ORACLE_GENERATORS else ORACLES[name])
            ores = con.execute(osql)
            ocols = [d[0] for d in ores.description]
            orows = [tuple(r) for r in ores.fetchall()]
        except Exception as e:  # noqa: BLE001 — report and continue
            msg = str(e).splitlines()[0][:200]
            print(f"  {name}: ERR (oracle) {msg} [{time.time()-t0:.1f}s]")
            failures.append((name, f"oracle error: {msg}"))
            continue

        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={scols} duck={ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            ms, mo = multiset(srows, scols), multiset(orows, ocols)
            if ms != mo:
                only_s = [k for k in ms if ms[k] != mo.get(k, 0)][:3]
                only_o = [k for k in mo if mo[k] != ms.get(k, 0)][:3]
                problems.append(f"values: spark-only={only_s} duck-only={only_o}")
        status = "OK " if not problems else "FAIL"
        print(f"  {name}: {status} rows={len(srows)} [{time.time()-t0:.1f}s]")
        for p in problems:
            print(f"      {p}")
            failures.append((name, p))
    return n_ran, failures


def main() -> int:
    args = sys.argv[1:]
    skip: set[str] = set()
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1:])
        args = args[:i]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries_pipeline import ORACLE_SF_DIR

    sf_dir = args[0] if args else ORACLE_SF_DIR
    n_ran, failures = check(get_spark(cpus=8), sf_dir, set(args[1:]), skip)
    print(f"\n{n_ran - len(set(f[0] for f in failures))}/{n_ran} OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
