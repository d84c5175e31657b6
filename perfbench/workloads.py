"""The benchmark's workloads: which registered queries one pass sends,
which tables they read, and the write that ends the pass.

Why each workload exists is in perfbench/README.md.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from mongo_analyser_spark.queries import ORACLES, QUERIES
from mongo_analyser_spark.sinks import export


def fetch(con, sql: str) -> tuple[list, list[str]]:
    """Rows and column names of a DuckDB query."""
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


class JsonExtract:
    """The reference's extract: the newest converted events as one gzip
    JSON array (`export_json_array_gz`)."""

    source = "convert_export_events"
    rows = 2_000

    def dataframe(self, spark, in_dir: str):
        df = QUERIES[self.source](spark, in_dir)
        return df.orderBy(F.desc("event_id")).limit(self.rows)

    def write(self, df, path: str) -> None:
        export.export_json_array_gz(df, path)

    def expected(self, con) -> tuple[list, list[str]]:
        """The same rows from the source query's DuckDB twin."""
        return fetch(
            con, f"SELECT * FROM ({ORACLES[self.source]}) ORDER BY event_id DESC LIMIT {self.rows}"
        )

    def readback(self, path: str) -> tuple[list, list[str]]:
        with gzip.open(path, "rt", encoding="utf-8") as fh:
            docs = json.load(fh)
        cols = list(docs[0]) if docs else []
        return [tuple(d.get(c) for c in cols) for d in docs], cols


class PartitionedCorpus:
    """The curated corpus as hive-partitioned parquet, one directory per
    language (`export_parquet(partition_by=["lang"])`)."""

    source = "corpus_build_documents"

    def dataframe(self, spark, in_dir: str):
        return QUERIES[self.source](spark, in_dir)

    def write(self, df, path: str) -> None:
        export.export_parquet(df, path, partition_by=["lang"])

    def expected(self, con) -> tuple[list, list[str]]:
        return fetch(con, ORACLES[self.source])

    def readback(self, path: str) -> tuple[list, list[str]]:
        table = pq.read_table(path)
        return [tuple(r.values()) for r in table.to_pylist()], table.column_names


@dataclass
class Workload:
    requests: list[str]
    # table name -> (generator, split); an unsplit table is one
    # single-row-group parquet file like the engine's fixtures, a split
    # one has FILES_PER_CORE part files per core
    tables: dict[str, tuple]
    sink: JsonExtract | PartitionedCorpus
    # requests whose DuckDB twin is too slow to run in every run; they are
    # held only to pass-to-pass equality (see perfbench/README.md)
    equality_only: tuple[str, ...] = ()
    # timed passes per run at least; a request's latency is its best over them
    timed_passes: int = 1


# Spark packs small files into scan partitions of about
# (total bytes + files x open cost) / default parallelism; with a whole
# multiple of the core count in files of one size, every scan partition
# gets the same number of files, so a scan has exactly one partition per
# core on any host, and the fanout is skipped
FILES_PER_CORE = 2

WORKLOADS = {
    "interactive": Workload(
        requests=[
            "field_stats_events", "dynamic_schema_histogram_events", "quantile_sketch_events",
            "ivfpq_topk_embeddings", "semantic_dedup_embeddings", "pca_project_embeddings",
        ],
        tables={"events": (gen.events, False), "embeddings": (gen.embeddings, False)},
        sink=JsonExtract(),
        # its twin verifies every within-cell pair in one DuckDB thread:
        # 7-15 s, a fifth of a run
        equality_only=("semantic_dedup_embeddings",),
        # with one timed pass ten runs spread 0.26 on docs_per_s, over the
        # widest bound: the pass after the cold one is still warming up, and
        # the second is faster in nine runs of ten. Curate keeps one pass,
        # for the time budget (perfbench/README.md)
        timed_passes=2,
    ),
    "curate": Workload(
        requests=[f"{q}_documents" for q in (
            "dedup_minhash_pairs", "bloom_decontaminate", "dsir_select", "gopher_rules",
            "bpe_token_counts",
        )],
        tables={"documents": (gen.documents, True)},
        sink=PartitionedCorpus(),
    ),
}


def table_of(query: str) -> str:
    """The table a registered query reads, from its name."""
    for t in ("events", "documents", "embedding"):
        if t in query:
            return t.rstrip("s") + "s"
    raise ValueError(query)


def write_inputs(workload: Workload, seed: int, out_dir: str, cores: int) -> dict[str, int]:
    """Generate the workload's tables from `seed` into `out_dir`; returns
    the row count of each. The rows depend on the seed only."""
    os.makedirs(out_dir)
    rows = {}
    for i, (name, (make, split)) in enumerate(sorted(workload.tables.items())):
        table = make(np.random.default_rng([seed, i]))
        files = FILES_PER_CORE * cores if split else 1
        gen.write_table(table, os.path.join(out_dir, f"{name}.parquet"), files)
        rows[name] = table.num_rows
    return rows
