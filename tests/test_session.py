"""get_spark's fixed settings, and the generated-class cache they size:
a query run again in the same session reuses its compiled classes."""

import os

from mongo_analyser_spark.queries import QUERIES
from mongo_analyser_spark.queries_pipeline import ORACLE_SF_DIR
from mongo_analyser_spark.session import CODEGEN_CACHE_ENTRIES

SF_DIR = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.001")

# From a fresh session these rows generate ~250 distinct classes at
# sf0.001, more than Spark's default cache of 100, so at that default the
# second round recompiles them. Each one's generated source is the same
# on every run (the rows whose source changes run to run are listed in
# SCALE.md and left out).
REPEATED_ROWS = [
    "field_stats_events",
    "ewma_smooth_events",
    "scd2_event_type_events",
    "mg_heavy_hitters_events",
    "q2_min_cost_supplier",
    "quantile_sketch_report_events",
    "dedup_minhash_pairs_documents",
]


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: one per class-cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_fixed_settings(spark):
    conf = spark.conf
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert conf.get("spark.python.daemon.module") == "mongo_analyser_spark.worker_daemon"


def test_repeated_queries_compile_no_class(spark):
    def one_round() -> int:
        before = _compiles(spark)
        for name in REPEATED_ROWS:
            QUERIES[name](spark, SF_DIR).collect()
        return _compiles(spark) - before

    one_round()
    assert one_round() == 0
