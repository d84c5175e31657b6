"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent span and request id. Each span
runs under its own Spark job group, so after a request the jobs and
stages it ran are read back per span from Spark's status store. The
layers are the benchmark's own calls (`queries.build`, `spark.collect`,
`sinks`) plus every public function of the operator modules below,
wrapped in place for the life of the process. Nothing in the package is
edited.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

OPERATOR_LAYERS = {
    f"operators.{m}": f"mongo_analyser_spark.operators.{m}"
    for m in (
        "field_stats", "melt_variant", "quantiles", "dedup", "bloom", "dsir",
        "quality", "similarity", "pq", "pca", "clustering",
    )
}
OPERATOR_LAYERS["functions.bpe"] = "mongo_analyser_spark.functions.bpe"

# totals per pass that layer_totals reports
PASS_METRICS = (
    ["queries.build_s", "queries.build_self_s", "queries.build_jobs"]
    + [f"{layer}.{m}" for layer in OPERATOR_LAYERS for m in ("build_s", "jobs")]
    + [
        "spark.collect_s", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.task_run_s", "spark.task_cpu_s", "spark.single_task_stage_share",
        "spark.shuffle_write_mb", "spark.spill_mb", "spark.failed_tasks", "sinks.write_s",
    ]
)
# the same totals, reported for the cold pass too
COLD_METRICS = ("queries.build_s", "queries.build_jobs", "spark.collect_s", "operators.pq.build_s")


def unit(metric: str) -> str:
    if metric.endswith("docs_per_s"):
        return "docs/s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("share", "core_busy")):
        return "ratio"
    return "count"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.jobs: dict[str, list[int]] = {}
        self.request: str | None = None
        self._stack: list[dict] = []
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"bench-span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def install(self) -> None:
        """Wrap every public function of the operator modules, also where
        another package module imported it by name."""
        wrapped = {}
        for layer, modname in OPERATOR_LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                wrapped[fn] = self._wrap(layer, fn)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("mongo_analyser_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrapped:
                    setattr(mod, attr, wrapped[value])

    def _wrap(self, layer: str, fn):
        # functools.wraps keeps __module__/__qualname__, and the module
        # attribute now is the wrapper, so cloudpickle ships any wrapped
        # function to Python workers by reference: workers import the
        # module fresh and run the unwrapped function.
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def harvest(self, request_spans: list[dict]) -> None:
        """Read the jobs and stages of finished spans from Spark's status
        store. Called between requests, outside every timed interval."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in request_spans:
            jobs = sorted(tracker.getJobIdsForGroup(rec["id"]))
            self.jobs[rec["id"]] = jobs
            rec["stages"] = []
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    if sid not in self.stages:
                        st = store.lastStageAttempt(sid)
                        if st.status().toString() == "SKIPPED":
                            continue
                        self.stages[sid] = {
                            "tasks": st.numTasks(),
                            "failed_tasks": st.numFailedTasks(),
                            "run_s": st.executorRunTime() / 1e3,
                            "cpu_s": st.executorCpuTime() / 1e9,
                            "shuffle_write_b": st.shuffleWriteBytes(),
                            "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        }
                    rec["stages"].append(sid)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                out = dict(rec)
                out["jobs"] = self.jobs.get(rec["id"], [])
                fh.write(json.dumps(out) + "\n")


def layer_totals(spans: list[dict], stages: dict[int, dict], jobs: dict[str, list[int]]) -> dict:
    """Per-layer totals over `spans` (one pass). Operator and builder
    times are inclusive of nested spans; a layer's span nested inside a
    span of the same layer is not counted twice."""
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s):
        n = len(jobs.get(s["id"], []))
        return n + sum(subtree_jobs(c) for c in children.get(s["id"], []))

    def nested_in_same_layer(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == s["name"]:
                return True
            p = by_id.get(p["parent"])
        return False

    out: dict[str, float] = {}
    for s in spans:
        if nested_in_same_layer(s):
            continue
        dur = s["end"] - s["start"]
        name = s["name"]
        if name == "queries.build":
            kids = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
            out["queries.build_s"] = out.get("queries.build_s", 0.0) + dur
            out["queries.build_self_s"] = out.get("queries.build_self_s", 0.0) + dur - kids
            out["queries.build_jobs"] = out.get("queries.build_jobs", 0) + subtree_jobs(s)
        elif name == "spark.collect":
            out["spark.collect_s"] = out.get("spark.collect_s", 0.0) + dur
        elif name == "sinks":
            out["sinks.write_s"] = out.get("sinks.write_s", 0.0) + dur
        elif name in OPERATOR_LAYERS:
            out[f"{name}.build_s"] = out.get(f"{name}.build_s", 0.0) + dur
            out[f"{name}.jobs"] = out.get(f"{name}.jobs", 0) + subtree_jobs(s)

    stage_ids = {sid for s in spans for sid in s.get("stages", [])}
    st = [stages[i] for i in stage_ids]
    out["spark.jobs"] = sum(len(jobs.get(s["id"], [])) for s in spans)
    out["spark.stages"] = len(st)
    out["spark.tasks"] = sum(x["tasks"] for x in st)
    out["spark.failed_tasks"] = sum(x["failed_tasks"] for x in st)
    out["spark.task_run_s"] = sum(x["run_s"] for x in st)
    out["spark.task_cpu_s"] = sum(x["cpu_s"] for x in st)
    out["spark.shuffle_write_mb"] = sum(x["shuffle_write_b"] for x in st) / 2**20
    out["spark.spill_mb"] = sum(x["spill_b"] for x in st) / 2**20
    out["spark.single_task_stage_share"] = (
        sum(1 for x in st if x["tasks"] == 1) / len(st) if st else 0.0
    )
    return out
