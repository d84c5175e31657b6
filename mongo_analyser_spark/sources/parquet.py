"""Parquet 'collection' catalog over the driver testdata layout
(one parquet file/dir per table — TESTDATA.md).

Reference analogs: list_collection_names (core/analyser.py:227-240),
full/sampled collection scans (core/analyser.py:251-257).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# events.props is a JSON-string document column; this is its parsed shape
# (the dynamic-schema path the reference exists for).
EVENTS_PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


# Per-process parquet schema memo (r15, guide §1.2/§6): spark.read
# .parquet() infers the schema by READING FOOTERS IN A SPARK JOB on
# every call — ~0.15 s per load_table even warm, paid per table per
# query build per bench rep. The schema is catalog METADATA, derived
# from the file itself on first touch in each process and keyed on
# (path, mtime_ns, size) so a rewritten file re-infers; no query
# results or data are memoized, and a fresh process always re-reads
# the footer. With an explicit schema the read plans zero jobs.
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _stat_key(path: str) -> tuple:
    if os.path.isdir(path):
        entries = []
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            entries.append((f, st.st_mtime_ns, st.st_size))
        return (path, tuple(entries))
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


# Event-time columns whose parquet encoding has drifted across driver
# testdata generations; normalize all of them to session-tz TIMESTAMP:
#  * TIMESTAMP(NANOS) → Spark reads as long (nanosAsLong) → timestamp_micros
#  * timestamp[us] without tz → Spark reads as TIMESTAMP_NTZ → cast
# Both conversions are value-preserving under the UTC session timezone
# pinned in load_table (the reference's naive-datetime-is-UTC rule,
# mongo_analyser/core/extractor.py:179-186).
NANO_TS_COLS = {"events": ["ts"]}


def normalize_event_time(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize drifting event-time encodings to TIMESTAMP (see
    NANO_TS_COLS). Idempotent; a no-op when the column is already
    TIMESTAMP. Shared by the batch loader and stream_events so the batch
    and streaming plans see identical event-time types (withWatermark /
    unix_micros both reject TIMESTAMP_NTZ)."""
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            # integer `div`, NOT `/`: double division loses ulp at e15 scale
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif dt == "timestamp_ntz":
            # wall-clock reinterpreted in the (UTC-pinned) session tz
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Runtime-settable and idempotent: some testdata generations store
    # events.ts as TIMESTAMP(NANOS), which Spark rejects unless read as
    # long. Set it here (not only in session.py's builder) so load_table
    # works under ANY SparkSession, including harnesses that construct
    # their own (the round-1 driver harness crashed on exactly this).
    # Session timezone is pinned UTC for the same reason: timestamp→string
    # queries would silently render in a foreign session's local zone and
    # hash-mismatch the oracle (extractor.py:179-186 naive-datetime-is-UTC
    # rule) — and the NTZ→TIMESTAMP cast below relies on it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        available = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        ) if os.path.isdir(sf_dir) else []
        raise FileNotFoundError(
            f"no table {name!r} under {sf_dir} (available: {available})"
        )
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    return normalize_event_time(df, NANO_TS_COLS.get(name, []))


def table_schema(spark: SparkSession, path: str) -> T.StructType:
    """Memoized parquet schema for ``path`` (see _SCHEMA_CACHE above).
    First touch in a process infers from the file's own footer (one
    Spark job); later touches are a dict hit keyed on the file's
    identity, so re-reads plan zero jobs. Also serves the streaming
    builders' schema probes (readStream requires a schema up front)."""
    key = _stat_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


# Same catalog-metadata discipline as _SCHEMA_CACHE: a full-table row
# count is exact in the parquet footer (num_rows), so operators that
# only need |table| to SIZE themselves (data-scaled LSH band params)
# can skip a df.count() Spark job per query build. Keyed on file
# identity; a rewritten file re-reads. Counts of FILTERED frames still
# need a real job — callers pass the footer count only for whole-table
# inputs.
_ROW_COUNT_CACHE: dict[tuple, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a table from parquet footer metadata (zero
    Spark jobs; memoized per process on file identity). An empty table
    counts 0 (``srp_band_params(0)`` falls back to its defaults); a
    table directory holding no ``.parquet`` file raises
    ``FileNotFoundError`` rather than pass for an empty table."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _stat_key(path)
    n = _ROW_COUNT_CACHE.get(key)
    if n is None:
        if os.path.isdir(path):
            # recursive walk (r16, ADVICE): a Hive-partitioned layout
            # (key=value subdirectories) would silently count 0 under a
            # top-level-only listing and mis-size SRP band params
            files = [
                os.path.join(root, f)
                for root, _dirs, names in os.walk(path)
                for f in sorted(names)
                if f.endswith(".parquet")
            ]
            if not files:
                raise FileNotFoundError(
                    f"table_row_count({path}): no .parquet file under the "
                    "table directory"
                )
        else:
            files = [path]
        n = sum(pq.read_metadata(f).num_rows for f in files)
        _ROW_COUNT_CACHE[key] = n
    return n


def list_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted collection names (analyser.py:237 `sorted(...)`)."""
    names = sorted(
        f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    return spark.createDataFrame([(n,) for n in names], "name string").orderBy("name")


def describe_indexes(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The reference's index listing (list_indexes,
    views/db_connection_view.py:495-609) mapped to the storage layer's
    actual index structures: parquet per-row-group column statistics
    (zone maps), which drive predicate pushdown / row-group skipping the
    way Mongo indexes drive query plans. One footer read, driver-side —
    no data scan. Columns: (column, row_group, num_rows, min, max,
    null_count); min/max stringified, None when the writer kept no stats."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata
    rows = []
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            has = st is not None and st.has_min_max
            rows.append(
                (
                    col.path_in_schema,
                    rg,
                    group.num_rows,
                    str(st.min) if has else None,
                    str(st.max) if has else None,
                    int(st.null_count) if st is not None and st.null_count is not None else None,
                )
            )
    return spark.createDataFrame(
        rows,
        "column string, row_group int, num_rows long, min string, max string, null_count long",
    ).orderBy("column", "row_group")
