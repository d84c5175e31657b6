"""Count-min sketch: mergeable heavy-hitter frequency estimation
(extends the sketch family next to the KMV and HLL distinct sketches in
operators/field_stats.py).

Reference parity: the reference's top-value frequency guard
(mongo_analyser/core/analyser.py top-5 emission) recounts exactly; at
corpus scale the standard streaming/mergeable answer is the count-min
sketch (Cormode & Muthukrishnan 2005 — public): d independent hash
rows of w counters, point estimate = min over rows, always an
OVERestimate (counters only ever absorb collisions additively).

Exactness contract: bucket hashes are the md5 52-bit trick
(`dsir.md5_bucket` — exact integers in both engines), counters are
exact counts, and min/joins are integer algebra — every sketch cell
and every estimate HASH-MATCHES the DuckDB twin; the overestimate
property (est >= exact) is emitted as a column so the oracle verifies
the sketch guarantee itself, row by row.

100-TB shape: the sketch build is ONE groupBy over (row, bucket) keys
— d rows per input record expand INSIDE the task and map-side combine
collapses them to at most d*w partial rows per task, so the shuffle
carries O(d*w) rows total. The sketch is a bounded mergeable artifact
(d*w longs — merge = cell-wise sum), exactly what a 1000-executor
ingest ships to a coordinator instead of a corpus-sized groupBy; the
estimate pass joins query keys against the d*w table by bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.fanout import sort_output

from mongo_analyser_spark.operators.dsir import md5_bucket


def _row_bucket(key: Column, row: int, width: int) -> Column:
    """Row-salted md5 bucket — independent hash per sketch row, exact
    integers on both engines (twin: ``md5('cm<r>:' || CAST(k AS
    VARCHAR))``)."""
    return md5_bucket(
        F.concat(F.lit(f"cm{row}:"), key.cast("string")), width
    )


def countmin_sketch(
    df: DataFrame,
    key: Column,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """The sketch itself: (row, bucket, cnt) — at most depth*width rows,
    one groupBy shuffle with map-side combine. Missing (row, bucket)
    combinations are zero cells (emitted sparsely)."""
    rows = df.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda r: r.cast("int"),
            )
        ).alias("row"),
        key.alias("__k"),
    )
    # per-row bucket as one CASE chain over the (small, fixed) depth —
    # the string key never shuffles, only the (row, bucket) ints do
    b = F.lit(None).cast("long")
    for r in range(depth - 1, -1, -1):
        b = F.when(
            F.col("row") == r, _row_bucket(F.col("__k"), r, width)
        ).otherwise(b)
    return (
        rows.select("row", b.alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimates(
    df: DataFrame,
    key: Column,
    key_name: str,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """(key, exact_cnt, cm_est, overestimate): every distinct key's
    exact count next to its count-min estimate (min over the d row
    counters) and the guaranteed-nonnegative overestimate. The exact
    side exists at fixture scale to certify the sketch — a production
    deployment keeps only the d*w sketch and queries it point-wise.

    The sketch here is derived FROM the exact counts this report
    already aggregates (r15, guide §1.2): cell (row, bucket) holds the
    count of raw rows hashing there == the integer SUM of exact_cnt
    over the keys hashing there, so the d*w table is cell-identical to
    countmin_sketch's while the raw corpus is exploded depth× only in
    the production builder (still exercised by the streaming twin and
    unit tests), not in this certification row (A/B at sf0.1: 1.76 →
    1.44 s min, rows identical)."""
    exact = df.groupBy(key.alias(key_name)).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    krows = exact.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda r: r.cast("int"),
            )
        ).alias("row"),
        F.col(key_name).alias("__k"),
        "exact_cnt",
    )
    sb = F.lit(None).cast("long")
    for r in range(depth - 1, -1, -1):
        sb = F.when(
            F.col("row") == r, _row_bucket(F.col("__k"), r, width)
        ).otherwise(sb)
    sketch = (
        krows.select("row", sb.alias("bucket"), "exact_cnt")
        .groupBy("row", "bucket")
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    probes = exact.select(
        key_name,
        "exact_cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda r: r.cast("int"),
            )
        ).alias("row"),
    )
    b = F.lit(None).cast("long")
    for r in range(depth - 1, -1, -1):
        b = F.when(
            F.col("row") == r, _row_bucket(F.col(key_name), r, width)
        ).otherwise(b)
    probed = probes.select(key_name, "exact_cnt", "row", b.alias("bucket"))
    return (
        probed.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(key_name, "exact_cnt")
        .agg(F.min("cnt").alias("cm_est"))
        .select(
            key_name,
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt")).alias("overestimate"),
        )
        .transform(sort_output, key_name)
    )
