"""Adaptive explicit-N fanout for per-row-expensive Python stages
(round-13, verdict-r12 #4 — the many-FILE axis).

The explicit-N repartition before every codec/text mapInPandas stage
exists because the TOY fixtures are single-file parquet: the scan gives
ONE partition and the Python stage serializes (round-9 char_entropy ran
17.1 s single-task vs 1.7 s fanned out; plans/lint.py pins the pattern).
But the repartition was UNCONDITIONAL — and at a real 100-TB layout the
scan parallelism is the file/split count (thousands), where the same
repartition is an EXTRA full shuffle of the payload bytes for zero
parallelism gain.

``fanout_for_python`` keeps the local-fixture behavior and removes the
scale waste: it reads the OBSERVED scan partition count off the physical
plan (no job — ``df.rdd`` materializes the plan, not the data) and skips
the shuffle when the scan already saturates the executor parallelism.
``input_bytes`` reads the input's size the same way, off the plan.

``python_rows`` is the one way to run a per-document Python function:
fanout, then one Arrow-batched ``mapInPandas`` that emits the rows the
function returns for each (id, payload) pair. ``sort_output`` is
the one deterministic output sort. ``ascii_codes`` and ``q4`` are the
payload source and the float quantizer the codec rows share with their
DuckDB twins.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame


def fanout_for_python(df: DataFrame, *key_cols: str) -> DataFrame:
    """Explicit-N repartition (AQE-coalesce-exempt) before a per-row-
    HEAVY stage — a Python codec batch or a hash/expression-dense JVM
    projection (md5-per-gram signature passes, shingle builds) —
    SKIPPED when the scan already provides at least the cluster's
    default parallelism in input splits. Key columns default to
    ``doc_id`` — the keys only spread rows (the downstream stages are
    per-row transforms or map-side partial aggregations), so skipping
    never changes results.

    r16: the single-row-group fixture files plan ONE scan task, so any
    map-side-heavy expression chain serialized on one core regardless
    of ``local[N]`` (measured: the minhash signature pass 2.80 →
    1.27 s and the full LSH+verify chain 3.40 → 1.06 s at sf0.1 with
    the fanout, outputs identical). On a production table the scan
    splits naturally and the auto probe skips the shuffle."""
    keys = key_cols or ("doc_id",)
    spark = df.sparkSession
    try:
        observed = df.rdd.getNumPartitions()
    except Exception:
        observed = 0  # exotic plan: keep the safe fanout
    if observed >= spark.sparkContext.defaultParallelism:
        return df
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n, *keys)


def input_bytes(df: DataFrame) -> int:
    """Spark's size estimate of ``df`` from its analyzed plan, no job:
    for a parquet scan it is the summed size of the listed files, and a
    filter or ``fanout_for_python`` above the scan leaves it unchanged.
    The curation operators' size gates read it off their own input."""
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


def python_rows(
    df: DataFrame,
    rows_of: Callable[[Any, Any], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The per-document Python stage: ``df`` is a two-column
    ``(id, payload)`` frame; ``rows_of(id, payload)`` returns the output
    row tuples for one document (zero, one or many), in the column order
    of the DDL ``schema``. The frame is fanned out on the id column
    (``fanout_for_python``) and every row is produced inside ONE
    Arrow-batched ``mapInPandas``. Callers finish with
    ``.transform(sort_output, ...)`` for a deterministic order."""
    import pandas as pd
    from pyspark.sql.types import StructType

    id_col, payload_col = df.columns
    columns = StructType.fromDDL(schema).fieldNames()

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    row
                    for rid, payload in zip(pdf[id_col], pdf[payload_col])
                    for row in rows_of(rid, payload)
                ],
                columns=columns,
            )

    return fanout_for_python(df, id_col).mapInPandas(run, schema)


def ascii_codes(text: str | None) -> bytes:
    """The printable-ASCII code points (1..127) of a document's text —
    the bytes the codec rows build their payloads from; the per-row twin
    of the Column expression ``operators.phash.ascii_codes``. The DuckDB
    twins keep exactly these with ``ascii(x) BETWEEN 1 AND 127``:
    non-ASCII characters and NUL are dropped by both engines."""
    return (text or "").encode("ascii", "ignore").replace(b"\x00", b"")


def q4(x: float) -> float:
    """The codec rows' float quantizer, ``floor(x*1e4 + 0.5)/1e4``: the
    DuckDB twins state the same ``FLOOR(x * 10000.0 + 0.5) / 10000.0``,
    so no engine's ROUND tie rule enters the hash."""
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def sort_output(df: DataFrame, *cols: str) -> DataFrame:
    """The deterministic output sort of a query: a keyed exchange on the
    sort columns, then ``orderBy`` on them.

    A bare ``orderBy`` directly on a Python stage runs that stage twice:
    range partitioning first samples its child for the partition bounds,
    then shuffles it. With the hash exchange in between, the sampler
    re-reads the exchange's shuffle files, so the stage runs once, and a
    lost executor's blocks are rebuilt from lineage. A consumer that
    joins or aggregates the sorted frame needs no other form: Catalyst
    removes the Sort there and only the hash exchange stays."""
    return df.repartition(*cols).orderBy(*cols)
