"""Benchmark of mongo_analyser_spark: one closed-loop client sends a
workload's requests on local[nproc], pass after pass.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 1 --trace 0

Run from the repository root. A run generates its inputs from the seed,
starts one SparkSession, times a cold pass (the first pass of a fresh
session), then times whole passes, at least the workload's
`timed_passes`, until `--seconds` have been measured, and then checks every result. The last line of stdout is
one JSON object {correct, attempted, failed, metrics}: end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`. The line before it
holds the run's details: per-pass and per-request times, the host's
load and the list of checks. Everything else, Spark's progress bar
included, goes to stderr. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the engine and the oracle checker come from the repository; without them
# the import fails and the run exits non-zero before printing a result
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import check_oracle  # noqa: E402
import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import spans as S  # noqa: E402
import workloads as W  # noqa: E402
from mongo_analyser_spark import get_spark  # noqa: E402
from mongo_analyser_spark.queries import ORACLE_GENERATORS, ORACLES, QUERIES  # noqa: E402
from mongo_analyser_spark.sources.parquet import load_table  # noqa: E402

# one fixed, small heap: GC ergonomics then do not follow the host's RAM,
# and the JVM stays small on a shared machine
DRIVER_MEMORY = "2g"


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def host_sample() -> dict:
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    idle = cpu[3] + cpu[4]
    return {"t": time.perf_counter(), "load": load, "busy": sum(cpu) - idle}


def busy_cores(a: dict, b: dict) -> float:
    return (b["busy"] - a["busy"]) / os.sysconf("SC_CLK_TCK") / (b["t"] - a["t"])


def tree_mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 2**20
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    ) / 2**20


class Run:
    def __init__(self, wl, spark, in_dir, out_dir, tracer):
        self.wl, self.spark, self.in_dir, self.out_dir, self.tracer = wl, spark, in_dir, out_dir, tracer
        self.checked: dict[str, tuple] = {}   # request -> (rows, cols) of the cold pass
        self.failed: dict[str, list[str]] = {}
        self.attempted = 0
        self.storage_peak_mb = 0.0
        self.sink_mb = 0.0

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def request(self, name: str, tag: str):
        """One request: builder + collect(), or the pass's write. Returns
        its result rows and columns (None for the write)."""
        if self.tracer:
            self.tracer.request = tag
        if name == "sink":
            path = os.path.join(self.out_dir, "export")
            with self.span("queries.build"):
                df = self.wl.sink.dataframe(self.spark, self.in_dir)
            with self.span("sinks"):
                self.wl.sink.write(df, path)
            return None, None
        with self.span("queries.build"):
            df = QUERIES[name](self.spark, self.in_dir)
        with self.span("spark.collect"):
            rows = df.collect()
        return rows, df.columns

    def one_pass(self, index: int, rng) -> dict:
        # the cold pass keeps the workload's order: its first request pays
        # the session's first-request cost, which differs from request to
        # request, so a seeded order would move cold_pass_s by the seed
        order = list(self.wl.requests)
        if index:
            order = [order[i] for i in rng.permutation(len(order))]
        order.append("sink")
        lat, spans_from = {}, len(self.tracer.spans) if self.tracer else 0
        for name in order:
            tag = f"pass{index}:{name}"
            self.attempted += 1
            first = len(self.tracer.spans) if self.tracer else 0
            t0 = time.perf_counter()
            try:
                rows, cols = self.request(name, tag)
            except Exception as e:  # noqa: BLE001 - a failed request is counted, the run goes on
                traceback.print_exc()
                self.failed.setdefault(tag, []).append(f"{type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                lat[name] = time.perf_counter() - t0
            if self.tracer:
                self.tracer.harvest(self.tracer.spans[first:])
                self.sample_storage()
            self.record(index, name, tag, rows, cols)
        spans = self.tracer.spans[spans_from:] if self.tracer else []
        return {"latency": lat, "wall": sum(lat.values()), "spans": spans}

    def record(self, index, name, tag, rows, cols):
        """Keep the cold pass's results for the checks; hold every later
        pass to the same row multiset. The write is checked by what it
        left on disk."""
        if name == "sink":
            path = os.path.join(self.out_dir, "export")
            self.sink_mb = tree_mb(path)
            rows, cols = self.wl.sink.readback(path)
        if index == 0:
            self.checked[name] = (rows, cols)
            return
        if name in self.checked:
            problem = compare(rows, cols, *self.checked[name])
        else:
            problem = "the cold pass has no result to compare with"
        if problem:
            self.failed.setdefault(tag, []).append(problem)

    def sample_storage(self):
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.storage_peak_mb = max(self.storage_peak_mb, mb)

    def oracle_checks(self) -> list[str]:
        """Compare every checked result with its DuckDB twin on the same
        input files. Returns the requests compared. The twins run in
        parallel: they are single-threaded for much of their time."""
        con = duckdb.connect()
        for t in self.wl.tables:
            path = os.path.join(self.in_dir, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

        def twin(name):
            cur = con.cursor()
            if name == "sink":
                return self.wl.sink.expected(cur)
            sql = ORACLE_GENERATORS[name](self.in_dir) if name in ORACLE_GENERATORS else ORACLES[name]
            return W.fetch(cur, sql)

        # a query with no twin, or with a twin too slow for every run
        # (equality_only), is checked only by pass-to-pass equality
        compared = [
            n for n in self.wl.requests + ["sink"]
            if n in self.checked and (n == "sink" or n in ORACLES)
            and n not in self.wl.equality_only
        ]
        with ThreadPoolExecutor(4) as pool:
            twins = {n: pool.submit(twin, n) for n in compared}
        for name, future in twins.items():
            try:
                problem = compare(*self.checked[name], *future.result())
            except duckdb.Error as e:
                problem = f"{type(e).__name__}: {str(e)[:300]}"
            if problem:
                self.failed.setdefault(f"pass0:{name}", []).append("oracle: " + problem)
        con.close()
        return compared


def compare(rows, cols, exp_rows, exp_cols) -> str | None:
    """The oracle gate's comparison: same column names, same row count,
    same order-insensitive value multiset."""
    if sorted(cols) != sorted(exp_cols):
        return f"columns {cols} != {exp_cols}"
    if len(rows) != len(exp_rows):
        return f"row count {len(rows)} != {len(exp_rows)}"
    a, b = check_oracle.multiset(rows, cols), check_oracle.multiset(exp_rows, exp_cols)
    if a != b:
        return f"values differ, e.g. {[k for k in a if a[k] != b.get(k, 0)][:2]}"
    return None


def layer_metrics(tracer, cold: dict, timed: list[dict], cores: int, docs_per_s: float) -> dict:
    """Per-layer metrics of the timed passes (median over passes), a few
    of the cold pass, and the traced run's own docs/s."""
    per_pass = [S.layer_totals(p["spans"], tracer.stages, tracer.jobs) for p in timed]
    out = {k: statistics.median(pp.get(k, 0) for pp in per_pass) for k in S.PASS_METRICS}
    out["spark.core_busy"] = statistics.median(
        pp["spark.task_run_s"] / (p["wall"] * cores) for pp, p in zip(per_pass, timed)
    )
    c = S.layer_totals(cold["spans"], tracer.stages, tracer.jobs)
    for k in S.COLD_METRICS:
        out[f"cold.{k}"] = c.get(k, 0)
    out["trace.docs_per_s"] = docs_per_s
    return {k: (v, S.unit(k)) for k, v in out.items()}


def jvm_memory(spark) -> dict:
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    old = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            old = pool.getPeakUsage().getUsed()
    return {"jvm.peak_rss_mb": hwm / 1024, "jvm.old_gen_peak_mb": old / 2**20}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    args = parse_args()
    # stdout carries only the two result lines; the JVM, Python workers
    # and every library write to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    wl = W.WORKLOADS[args.workload]

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "tmp"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    }
    os.environ.update(env)
    h0 = host_sample()
    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        spark = get_spark("perfbench", cpus=cores)
        t_up = time.perf_counter()
        in_dir = os.path.join(run_dir, "in")
        table_rows = W.write_inputs(wl, args.seed, in_dir, cores)
        gen_s = time.perf_counter() - t_up
        out_dir = os.path.join(run_dir, "out")
        os.makedirs(out_dir)
        docs_per_pass = sum(table_rows[W.table_of(r)] for r in wl.requests + [wl.sink.source])

        tracer = None
        if args.trace:
            tracer = S.Tracer(spark)
            tracer.install()
        run = Run(wl, spark, in_dir, out_dir, tracer)
        rng = np.random.default_rng([args.seed, 1 << 20])
        cold = run.one_pass(0, rng)
        timed, h1 = [], host_sample()
        while len(timed) < wl.timed_passes or sum(p["wall"] for p in timed) < args.seconds:
            timed.append(run.one_pass(len(timed) + 1, rng))
        h2 = host_sample()
        # a split table must scan in at least one partition per core, or
        # the engine fans it out and the layout is not the one described
        scan_partitions = {
            t: load_table(spark, in_dir, t).rdd.getNumPartitions()
            for t, (_, split) in wl.tables.items() if split
        }
        parallelism = spark.sparkContext.defaultParallelism
        compared = run.oracle_checks()
        check_s = time.perf_counter() - h2["t"]
        memory = jvm_memory(spark) if tracer else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    # a request's latency is its best over the timed passes: the minimum is
    # the estimator least moved by a pause of the shared host or a JIT
    # compile landing in one pass
    request_s = {r: min(p["latency"][r] for p in timed) for r in timed[0]["latency"]}
    slowest = max(request_s, key=request_s.get)
    pass_s = sum(request_s.values())
    docs_per_s = docs_per_pass / pass_s
    # set-up is the program's own: process start until the session is up;
    # generating the benchmark's inputs is reported apart (sources.gen_s)
    setup_s = t_up - T_START
    e2e = {
        "docs_per_s": (docs_per_s, "docs/s"),
        "cold_pass_s": (cold["wall"], "s"),
        "setup_s": (setup_s, "s"),
    }
    host = {
        "host.loadavg_1m_before": h0["load"],
        "host.loadavg_1m_after": h2["load"],
        "host.cpu_per_wall": busy_cores(h1, h2),
    }
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "docs_per_pass": docs_per_pass,
        "default_parallelism": parallelism,
        "split_scan_partitions": scan_partitions,
        "split_scans_saturate": all(n >= parallelism for n in scan_partitions.values()),
        "pass_s": [p["wall"] for p in [cold] + timed],
        "cold_request_s": cold["latency"],
        "latency_p50_s": statistics.median(request_s.values()),
        "latency_tail_s": request_s[slowest],
        "latency_tail_request": slowest,
        "error_rate": len(run.failed) / run.attempted,
        "failures": run.failed,
        "oracle_checked": compared,
        "pass_equality_only": [r for r in wl.requests if r not in compared],
        "request_s": request_s,
        "check_s": check_s,
        "run_s": time.perf_counter() - T_START,
        **host,
    }
    if tracer:
        per_layer = layer_metrics(tracer, cold, timed, cores, docs_per_s)
        per_layer.update({k: (v, "MB") for k, v in memory.items()})
        per_layer["spark.storage_mb"] = (run.storage_peak_mb, "MB")
        per_layer["session.start_s"] = (t_up - T_START, "s")
        per_layer["sources.gen_s"] = (gen_s, "s")
        per_layer["sinks.write_mb"] = (run.sink_mb, "MB")
        per_layer.update({k: (v, "cores" if "cpu" in k else "load") for k, v in host.items()})
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.write_jsonl(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"))
        metrics = per_layer
    else:
        metrics = e2e
    print(json.dumps(details), file=out)
    print(json.dumps({
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
