"""SparkSession construction tuned for both local testing and cluster scale.

The reference keeps a ping-verified singleton MongoClient
(mongo_analyser/core/db.py:20-187); our session-level equivalent is the
SparkSession itself — reused, lazily created, UTC-pinned so timestamp
semantics match the reference's naive-datetime-is-UTC rule
(mongo_analyser/core/extractor.py:179-186).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache (static, default 100 entries). One warm
# `curate` pass generates ~140 classes and the 201-row registry 1,981 at
# sf0.01, so at 100 every repeated query recompiled its classes with
# Janino and ran them cold in the JIT again. 4096 holds the whole
# registry with headroom; SCALE.md has the measurement and its cost.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "mongo_analyser_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode settings mirror what we would set on a real cluster:
    * AQE on — runtime coalescing + skew-join handling at 100 TB.
    * shuffle.partitions sized to cores locally; on a cluster this would be
      ~2-3× total executor cores (AQE coalesces the excess).
    * Arrow on — any Pandas-UDF path transfers columnar batches.
    * UTC session timezone — reference parity for datetime stats/export.
    * A generated-class cache that holds the registry's classes, so a
      repeated query reuses compiled code (CODEGEN_CACHE_ENTRIES).
    * A Python worker daemon that re-reads a zip archive only when it
      changed (mongo_analyser_spark.worker_daemon).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # some testdata generations store events.ts as parquet
        # TIMESTAMP(NANOS), which Spark refuses by default; read as long +
        # convert in loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # DataFrame-debugging call-site capture (Spark 4, default
        # on) walks the Python stack and adds two py4j round trips for
        # EVERY DataFrame op — profiled at ~10 ms/op, ~45% of q1's
        # build phase. Error-message enrichment only (PySpark's own
        # comment calls it a performance trade); query results and
        # plans are unaffected. Scale-independent: a cluster session
        # would set the same.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers keep pyspark.zip's directory across tasks instead
        # of re-reading it before each one (~0.15 s per task; worker_daemon)
        .config("spark.python.daemon.module", "mongo_analyser_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
