"""Dump .explain("formatted") for the named queries into plans/<tag>/
as <query>_<suffix>.txt — the committed evidence format plan claims
are checked against.

Usage: python tools/dump_plans.py <query>[,query...] [--tag r15] [--suffix after]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    names = args[0].split(",")
    tag = args[args.index("--tag") + 1] if "--tag" in args else "r15"
    suffix = args[args.index("--suffix") + 1] if "--suffix" in args else "after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mongo_analyser_spark import get_spark
    from mongo_analyser_spark.queries import QUERIES

    spark = get_spark("dump_plans")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        text = _formatted(df)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
