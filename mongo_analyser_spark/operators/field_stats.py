"""Per-field statistics — the reference's flagship computation re-expressed
as a single grouped multi-aggregate (SURVEY §2.4 A1-A9; reference fold at
mongo_analyser/core/analyser.py:32-79, finalize :269-322).

All stats flow from the melted representation (operators/melt.py) through
ONE ``groupBy("field")`` — one shuffle, linear scan, map-side partial
aggregation; the melted rows never materialize (whole-stage codegen fuses
explode → project → partial-agg). At 100 TB this plan is bound by the
parquet scan, which is the right bottleneck.

Scale notes:
* exact ``countDistinct`` reproduces the reference's O(#distinct) sets
  (analyser.py:271-279) and is what the DuckDB oracle checks; callers can
  flip ``approx=True`` to switch to HLL++ (``approx_count_distinct``) for
  100 TB runs — same plan shape, bounded state.
* top-k value frequencies keep the reference's guards (strings < 256
  chars, k=5 — analyser.py:202-204,286) which keeps the shuffle skinny; the
  tie-break is (count DESC, value ASC) to make distributed output
  deterministic where the reference relied on Counter insertion order
  (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo_analyser_spark.operators.fanout import sort_output

from mongo_analyser_spark.operators.melt import melt, melt_array_elements

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _stats_agg(melted: DataFrame, approx: bool = False) -> DataFrame:
    distinct_key = F.coalesce(
        F.col("v_str"), F.col("v_num").cast("string"), F.col("v_ts").cast("string")
    )
    n_distinct = (
        F.approx_count_distinct(distinct_key) if approx else F.count_distinct(distinct_key)
    )
    return (
        melted.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("present"), F.lit(1))).alias("cnt"),
            n_distinct.alias("distinct_cnt"),
            F.min("v_num").alias("min_num"),
            F.max("v_num").alias("max_num"),
            F.date_format(F.min("v_ts"), TS_FMT).alias("min_ts"),
            F.date_format(F.max("v_ts"), TS_FMT).alias("max_ts"),
        )
        .select(
            "field",
            "cnt",
            F.round((F.col("total") - F.col("cnt")) * 100.0 / F.col("total"), 4).alias(
                "missing_pct"
            ),
            "distinct_cnt",
            "min_num",
            "max_num",
            "min_ts",
            "max_ts",
        )
        .orderBy("field")
    )


def field_stats(
    df: DataFrame,
    json_cols: dict[str, T.StructType] | None = None,
    approx: bool = False,
) -> DataFrame:
    """Presence / missing% / cardinality / numeric+temporal min-max per
    dotted field path (reference A1-A3, A5, A6, A9)."""
    return _stats_agg(melt(df, json_cols), approx=approx)


def _histogram_agg(melted: DataFrame) -> DataFrame:
    return (
        melted.groupBy("field", "type_tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("field", "type_tag")
    )


def type_histogram(
    df: DataFrame, json_cols: dict[str, T.StructType] | None = None
) -> DataFrame:
    """Observed type histogram per field (reference A4: Counter of inferred
    type names per path, analyser.py:51,192,286). On a typed substrate the
    per-row variation is null vs non-null; dynamic JSON columns surface
    their parsed leaf types."""
    return _histogram_agg(melt(df, json_cols))


def top_values(
    df: DataFrame,
    json_cols: dict[str, T.StructType] | None = None,
    k: int = 5,
    max_len: int = 256,
) -> DataFrame:
    """Top-k value frequencies per field over strings shorter than
    ``max_len`` (reference A7 with P6 guard, analyser.py:202-204,299-300).
    Only string-typed values enter the frequency map, matching the subtle
    reference behavior that ints do NOT appear in value_frequencies
    (tests/core/test_analyser.py:124-125)."""
    return _top_values_agg(melt(df, json_cols), k=k, max_len=max_len)


def _top_values_agg(melted: DataFrame, k: int = 5, max_len: int = 256) -> DataFrame:
    counted = (
        melted.filter(
            F.col("present") & (F.col("type_tag") == "str") & (F.length("v_str") < max_len)
        )
        .groupBy("field", F.col("v_str").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("field").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("field", "value", "cnt", "rnk")
        .transform(sort_output, "field", "rnk")
    )


def array_element_stats(df: DataFrame, array_col: str, approx: bool = False) -> DataFrame:
    """Reference A8: the same accumulator set folded over every array
    element (analyser.py:55-65,131-138), keyed under 'col[]'."""
    return _stats_agg(melt_array_elements(df, array_col), approx=approx)


def distinct_kmv(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct sketch per group (Bar-Yossef et al.
    2002): hash each distinct value into (0,1], keep the k smallest per
    group, estimate cardinality as (k-1)/h_k.  Groups with fewer than k
    distinct values report their exact count (the sketch is exact below
    its capacity).

    Unlike HLL (`approx_count_distinct`), the KMV estimator is
    engine-agnostic pure SQL — md5-based hashing and IEEE doubles make
    the ESTIMATE itself hash-match DuckDB, so the sketch path gets the
    same oracle strength as exact paths.  13 hex chars = 52 bits keeps
    the hash integer exactly representable in a double in both engines.

    100-TB shape: distinct (group, value) dedup is one shuffle; the
    per-group k-smallest is a window rank over the already-deduped
    skinny pairs; union-mergeable like any KMV (min of unions = union of
    mins), so partial sketches combine without re-scanning.

    Columns: (group_col, n_exact, kmv_estimate, k).
    """
    if k < 2:
        raise ValueError("distinct_kmv requires k >= 2")
    # NULL values are excluded from the distinct count (SQL COUNT
    # DISTINCT semantics) — and must never reach the hash: md5(NULL) is
    # NULL, which sorts NULLS FIRST in Spark's window but NULLS LAST in
    # DuckDB's, consuming rank 1 on one engine only and silently
    # biasing h_k (reproduced in review: +3% on a 100-value group).
    pairs = (
        df.select(group_col, value_col)
        .where(F.col(value_col).isNotNull())
        .distinct()
    )
    h = (
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    hashed = pairs.select(group_col, h.alias("h"))
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
        )
        .select(
            group_col,
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(F.col("n_exact") < k, F.col("n_exact").cast("double"))
            .otherwise(F.round((k - 1) / F.col("h_k"), 4))
            .alias("kmv_estimate"),
            F.lit(k).cast("long").alias("k"),
        )
        .orderBy(group_col)
    )
