#!/usr/bin/env bash
# Round-end commit gate (round-4 verdict Next-round #7): every signal the
# external driver grades, run locally, failing LOUDLY on the first red.
# Run this before the final commit of a working session; a red full
# registry or a crashed bench must block the commit, not surface a round
# later in VERDICT.md.
#
#   bash tools/verify_gate.sh [sf_dir]      # default /root/testdata/sf0.01
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"

echo "== [1/4] driver-contract smoke (__spark_entry__) =="
python - <<'EOF'
import importlib.util
spec = importlib.util.spec_from_file_location("__spark_entry__", "__spark_entry__.py")
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from mongo_analyser_spark import get_spark
spark = get_spark(cpus=8)
rows = mod.entry(spark).collect()
assert len(rows) > 0, "entry() returned 0 rows"
q, o = mod.queries(), mod.oracle_sql()
assert set(o) <= set(q), "oracle_sql keys not a subset of queries"
print(f"entry rows={len(rows)} queries={len(q)} oracles={len(o)}")
EOF

echo "== [1.5/4] registry-shape probe (every builder returns a DataFrame) =="
# seconds-cheap stub catcher (round-13, after BENCH_r12 rc 1): a mid-edit
# `pass`-body registration must die HERE with its name, not in the
# driver's bench warm-up a round later. Builders are lazy — calling them
# runs no job, only plan construction.
python - <<'EOF'
from pyspark.sql import DataFrame
from mongo_analyser_spark import get_spark
from mongo_analyser_spark.queries import ORACLES, QUERIES
import mongo_analyser_spark.queries_pipeline  # noqa: F401
import mongo_analyser_spark.queries_streaming  # noqa: F401
spark = get_spark(cpus=8)
bad = [n for n, fn in QUERIES.items()
       if not isinstance(fn(spark, "/root/testdata/sf0.001"), DataFrame)]
assert not bad, f"builders returning non-DataFrame: {bad}"
empty = [n for n, sql in ORACLES.items() if not (sql and sql.strip())]
assert not empty, f"registered empty oracle SQL: {empty}"
print(f"registry shape OK: {len(QUERIES)} builders all return DataFrames")
EOF

echo "== [2/4] FULL-registry oracle gate (${SF_DIR}) =="
# check_oracle is per-query crash-proof (reports ERR and continues) and
# exits non-zero on ANY failure — set -e makes that block the gate.
PYTHONPATH="$PWD" python tools/check_oracle.py "$SF_DIR"

echo "== [3/4] foreign-session gate (bare SparkSession, non-UTC TZ) =="
TZ=America/Chicago python tools/driver_sim.py "$SF_DIR"

echo "== [4/4] bench completes under budget and prints its full, compact and summary lines =="
# MEASURED WALL BUDGET: the full bench (warm-up + SPARK_GRAFT_BENCH_REPS
# timed reps of all 201 queries) must finish inside BENCH_BUDGET_S
# (default 1200 s; a healthy run of the 201 rows at sf0.1 on 4 cores takes
# 13-14 min wall) or the gate is RED — one per-row-expensive registry row
# is exactly what this catches (char_entropy once cost ~16 min/pass and
# the bench timed out). `timeout` turns a hang into rc=124 instead of a
# stuck gate.
# NB: capture into a variable — piping into `python - <<EOF` would let the
# heredoc replace the piped stdin and json.loads('') always fails.
BENCH_BUDGET_S="${BENCH_BUDGET_S:-1200}"
T0=$(date +%s)
# bench prints the full per-query line, a compact positional line of
# every time (it survives a consumer that keeps only the tail of stdout)
# and a compact summary.
# Select each line by its metric, not by its position: grade the full
# per-query line; sanity-check the summary line.
BENCH_RAW="$(timeout "$BENCH_BUDGET_S" python bench.py 2>/dev/null)"
BENCH_OUT="$(printf '%s\n' "$BENCH_RAW" | grep -F '"metric": "total_query_wall_clock"' | head -1 || true)"
BENCH_SUM="$(printf '%s\n' "$BENCH_RAW" | grep -F '"metric": "bench_summary"' | tail -1 || true)"
# persist the per-query timings so tools/bench_compare.py can run a
# vs-BASELINE regression report on the SAME run the gate graded
printf '%s\n' "$BENCH_OUT" > .bench_last.json
WALL=$(( $(date +%s) - T0 ))
python - "$BENCH_OUT" "$BENCH_SUM" "$WALL" "$BENCH_BUDGET_S" <<'EOF'
import json, sys
assert sys.argv[1], "bench printed no total_query_wall_clock line"
assert sys.argv[2], "bench printed no bench_summary line"
d = json.loads(sys.argv[1])
s = json.loads(sys.argv[2])
wall, budget = int(sys.argv[3]), int(sys.argv[4])
assert d["value"] > 0 and d["queries"], "bench produced no timings"
assert not [q for q, t in d["queries"].items() if t < 0], "negative timing"
assert wall <= budget, f"bench wall {wall}s exceeds budget {budget}s"
# single-row tripwire: catches the char_entropy class (~16 min/pass,
# BENCH_r09 rc=124) with orders-of-magnitude margin. Raised 5 -> 8 s in
# round 14: ivfpq_wide_topk_embeddings honestly costs 4.3-4.7 s solo
# (d=768 IVFADC), so a 5 s bar flapped on host-noise spikes that solo
# re-measures confirmed as jitter (BASELINE.md round-14 method note).
slow = {q: t for q, t in d["queries"].items() if t > 8}
assert not slow, f"rows over the 8 s single-row ceiling: {slow}"
assert s.get("metric") == "bench_summary" and s["n"] == len(d["queries"]), (
    "bench summary line missing or inconsistent with the full line")
print(f"bench OK: {len(d['queries'])} queries, {d['value']}s summed, "
      f"{wall}s wall (budget {budget}s) at sf={d['sf']}; "
      f"summary vs_baseline={s.get('vs_baseline')} "
      f"worst={s.get('worst_query')} ({s.get('worst_ratio')}x)")
EOF

echo "VERIFY GATE: all green"
