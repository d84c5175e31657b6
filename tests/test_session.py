"""get_spark's fixed settings, and the generated-class cache they size:
a query run again in the same session reuses its compiled classes."""

import os
import subprocess
import sys

from mongo_analyser_spark.queries import QUERIES
from mongo_analyser_spark.queries_pipeline import ORACLE_SF_DIR
from mongo_analyser_spark.session import CODEGEN_CACHE_ENTRIES, PACKAGE_PARENT

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


def test_python_stage_runs_from_a_foreign_directory(tmp_path):
    """A caller that puts the package on ``sys.path`` and runs from another
    directory can run a Python stage: the workers, started through the
    package's daemon module, must import the package too."""
    script = (
        f"import sys; sys.path.insert(0, {PACKAGE_PARENT!r})\n"
        "from mongo_analyser_spark import get_spark\n"
        "spark = get_spark('foreign_cwd', cpus=1)\n"
        "print(spark.range(10).mapInArrow(lambda it: it, 'id long').count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split()[-1] == "10"


def test_repeated_queries_compile_no_class(spark):
    def one_round() -> int:
        before = _compiles(spark)
        for name in REPEATED_ROWS:
            QUERIES[name](spark, SF_DIR).collect()
        return _compiles(spark) - before

    one_round()
    assert one_round() == 0
