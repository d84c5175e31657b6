"""Compare a bench.py JSON line against BASELINE.md's per-query table.

Usage: python tools/bench_compare.py <bench.json> [--ratio 1.5]

Accepts BOTH bench output shapes:
 * bench.py's own line — ``{"queries": {name: sec, ...}, ...}``;
 * the driver's ``BENCH_rN.json`` — ``{"rc": ..., "tail": "<front-
   truncated bench output>"}``: the times are read from the compact
   ``bench_times`` line when its name order matches the registry, else
   recovered from the truncated full line (a leading name cut mid-token
   is dropped) with a count of the rows truncated away.

Prints queries whose reading exceeds ratio × their baseline row (and any
queries missing a baseline row), sorted by ratio descending. Exit 0
always — this is a report, not a gate; >2× rows must be re-measured SOLO
(tools/solo_median.py) before concluding anything (BASELINE.md method
note).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys


def order_hash(names: list[str]) -> str:
    """Short hash of a name order: bench.py's compact line carries it so
    a reader can tell whether its positions still match the registry."""
    return hashlib.sha1("\n".join(names).encode()).hexdigest()[:8]


def registry_names() -> list[str] | None:
    """The registry's names in order, or None if it cannot be imported."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    try:
        from mongo_analyser_spark.queries import QUERIES
    except Exception:
        return None
    return list(QUERIES)


def queries_from_compact(tail: str, names: list[str] | None) -> dict[str, float] | None:
    """``{name: seconds}`` from the ``bench_times`` line in ``tail``, or
    None without one or when its name order is not ``names``."""
    i = tail.rfind('{"metric":"bench_times"')
    if i < 0 or not names:
        return None
    line = json.loads(tail[i:].splitlines()[0])
    if line["order"] != order_hash(names):
        return None
    return {q: ms / 1000 for q, ms in zip(names, line["ms"])}


def queries_from_tail(tail: str) -> dict[str, float]:
    """Recover ``{name: seconds}`` pairs from a front-truncated bench
    line. Only the queries object is scanned: if the truncation kept the
    ``"queries": {`` opener we start there, else the string begins INSIDE
    the dict and we stop at its closing ``}`` (the suffix after it holds
    top-level scalars like ``"sf": 0.1`` that must not read as queries).
    A first pair whose name was cut mid-token is safely excluded by the
    match anchor: a prefix-drop that removes any name characters removes
    the opening quote too, so ``tem_flags": 0.4`` can't match — while a
    cut landing exactly on the quote leaves a complete name, matched by
    the ``^`` branch."""
    opener = '"queries": {'
    start = tail.find(opener)
    body = tail[start + len(opener):] if start >= 0 else tail
    end = body.find("}")
    if end >= 0:
        body = body[:end]
    pairs = re.findall(r'(?:^|\{|, )"([\w.-]+)": ([0-9.]+)', body)
    return {name: float(sec) for name, sec in pairs}


def load_bench_queries(path: str) -> tuple[dict[str, float], str]:
    """(queries, note) from either accepted file shape."""
    bench = json.load(open(path))
    if "queries" in bench:
        return dict(bench["queries"]), ""
    if "tail" not in bench:
        raise SystemExit(
            f"{path}: neither a bench.py line (no 'queries') nor a "
            "driver BENCH_rN.json (no 'tail')"
        )
    tail = bench["tail"]
    summary_note = ""
    # bench.py emits a compact summary as its LAST line precisely so it
    # survives the driver's front-truncation — surface it when present
    i = tail.rfind('{"metric": "bench_summary"')
    if i >= 0:
        try:
            s = json.loads(tail[i:].splitlines()[0])
            summary_note = (
                f"  SUMMARY (authoritative, from bench.py's last line): "
                f"total {s['value']}s / {s['n']} queries at sf={s['sf']}, "
                f"vs_baseline={s.get('vs_baseline')}, "
                f"worst={s.get('worst_query')} ({s.get('worst_ratio')}x)\n"
            )
        except (ValueError, KeyError):
            pass
    names = registry_names()
    qs = queries_from_compact(tail, names)
    if qs is not None:
        return qs, (
            f"  NOTE: tail input — read all {len(qs)} rows from the "
            "compact bench_times line\n" + summary_note
        )
    # recover per-query pairs from the region BEFORE the summary line so
    # the summary's own scalar fields can't be misread as query timings
    qs = queries_from_tail(tail[:i] if i >= 0 else tail)
    total = len(names) if names else None
    lost = f"{total - len(qs)} truncated away of {total}" if total else (
        "truncated count unknown (registry not importable here)")
    return qs, (
        f"  NOTE: driver-format input — recovered {len(qs)} rows from the "
        f"front-truncated tail; {lost}\n" + summary_note
    )


def baseline_rows(path: str = "BASELINE.md", quiet: bool = False) -> dict[str, float]:
    """Parse BASELINE.md's `| name | sf | seconds |` rows. Any pipe row
    whose first cell looks like a query name but that fails the strict
    shape is REPORTED (not silently dropped) so a future format drift
    degrades loudly instead of weakening the comparison to 'no baseline
    row'."""
    rows: dict[str, float] = {}
    unparsed: list[str] = []
    for line in open(path):
        m = re.match(r"\| ([\w.-]+) \| [\d.]+ \| ([\d.]+)", line)
        if m:
            rows[m.group(1)] = float(m.group(2))
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        looks_like_data = (
            line.startswith("|")
            and len(cells) >= 3
            and re.fullmatch(r"[\w.-]+", cells[0] or "")
            and not set(cells[1]) <= {"-", ":", " ", ""}  # not a rule row
            and any(re.fullmatch(r"[\d.]+", c) for c in cells[1:])
        )
        if looks_like_data and cells[0] not in ("name", "query"):
            unparsed.append(line.rstrip())
    if not quiet:
        for line in unparsed:
            print(f"  WARNING: baseline row failed to parse: {line}")
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("bench_json", help="file holding bench.py's JSON line")
    ap.add_argument("--ratio", type=float, default=1.5)
    ap.add_argument("--baseline", default="BASELINE.md")
    args = ap.parse_args()
    queries, note = load_bench_queries(args.bench_json)
    if note:
        print(note, end="")
    base = baseline_rows(args.baseline)
    over, missing = [], []
    for q, t in queries.items():
        if q not in base:
            missing.append(q)
        elif base[q] > 0 and t / base[q] > args.ratio:
            over.append((t / base[q], q, t, base[q]))
    for r, q, t, b in sorted(over, reverse=True):
        print(f"{r:5.2f}x  {q}: {t:.3f}s vs baseline {b:.3f}s")
    for q in missing:
        print(f"  no baseline row: {q} ({queries[q]:.3f}s)")
    tot = sum(queries.values())
    common = [q for q in queries if q in base]
    bsum = sum(base[q] for q in common)
    tsum = sum(queries[q] for q in common)
    agg = f"{tsum / bsum:.2f}x" if bsum > 0 else "n/a (no common rows)"
    print(
        f"\ntotal {tot:.1f}s / {len(queries)} queries; "
        f"vs-baseline aggregate over {len(common)} common rows: "
        f"{tsum:.1f}s / {bsum:.1f}s = {agg}"
    )
    return 0


if __name__ == "__main__":
    main()
