"""Adaptive explicit-N fanout (operators/fanout.py, round-13
verdict-r12 #4): the repartition crutch before per-row Python stages
must fire on under-parallel scans (the single-file fixture regime) and
be SKIPPED when the scan already saturates executor parallelism (the
many-file 100-TB regime, where it is an extra full shuffle of payload
bytes)."""

from __future__ import annotations

from mongo_analyser_spark.operators.fanout import (
    ascii_codes,
    fanout_for_python,
    input_bytes,
    python_rows,
    sort_output,
)
from mongo_analyser_spark.plans.inspect import formatted_plan, num_exchanges
from mongo_analyser_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_fanout_fires_on_single_file_scan(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = fanout_for_python(docs)
    assert out.rdd.getNumPartitions() == n


def test_fanout_skipped_when_scan_saturates(spark):
    # spark.range with explicit numPartitions >= defaultParallelism
    # stands in for a many-file scan: no extra exchange should appear
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10_000, 1, par).withColumnRenamed("id", "doc_id")
    out = fanout_for_python(df)
    assert out is df  # unchanged plan object — no shuffle added


def test_fanout_follows_scan_layout(spark, tmp_path):
    """The same rows written as one file (one scan task: the fanout
    exchange is planned) and as two files per core (the scan already has
    the default parallelism: no exchange) give identical rows through
    one python_rows stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    par = spark.sparkContext.defaultParallelism
    n_files = 2 * par
    table = pa.table({
        "doc_id": pa.array(range(250 * n_files), pa.int64()),
        "text": [f"doc {i}" for i in range(250 * n_files)],
    })
    pq.write_table(table, str(tmp_path / "one.parquet"))
    (tmp_path / "split.parquet").mkdir()
    for i in range(n_files):
        pq.write_table(
            table.slice(250 * i, 250),
            str(tmp_path / "split.parquet" / f"part-{i:03d}.parquet"),
        )

    def rows_of(doc_id, text):
        yield (doc_id, len(text))

    runs = {}
    for layout in ("one", "split"):
        df = spark.read.parquet(str(tmp_path / f"{layout}.parquet"))
        out = python_rows(df, rows_of, "doc_id long, n int")
        runs[layout] = (
            df.rdd.getNumPartitions(),
            num_exchanges(out, formatted_plan(out)),
            sorted(tuple(r) for r in out.collect()),
        )
    assert runs["one"][0] == 1 and runs["one"][1] == 1
    assert runs["split"][0] >= par and runs["split"][1] == 0
    assert runs["one"][2] == runs["split"][2]
    assert len(runs["one"][2]) == table.num_rows


def test_input_bytes_is_the_scanned_file_size(spark, tmp_path):
    """input_bytes reads the summed .parquet file sizes off the plan, for
    the one-file sf0.001 documents table and a multi-part table; a filter
    and fanout_for_python above the scan leave it unchanged."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    table = pa.table({
        "doc_id": pa.array(range(3000), pa.int64()),
        "text": [f"doc {i} " * (i % 7 + 1) for i in range(3000)],
    })
    parts = tmp_path / "parts.parquet"
    parts.mkdir()
    for i in range(3):
        pq.write_table(
            table.slice(1000 * i, 1000), str(parts / f"part-{i}.parquet")
        )
    cases = [
        (load_table(spark, SF, "documents"), [f"{SF}/documents.parquet"]),
        (spark.read.parquet(str(parts)), list(parts.glob("*.parquet"))),
    ]
    for docs, files in cases:
        want = sum(os.path.getsize(f) for f in files)
        assert input_bytes(docs) == want
        assert input_bytes(docs.filter(F.col("doc_id") % 10 != 0)) == want
        fanned = fanout_for_python(docs)
        assert fanned is not docs  # the repartition is in the plan
        assert input_bytes(fanned) == want


def test_fanout_preserves_rows(spark):
    docs = load_table(spark, SF, "documents").select("doc_id")
    assert fanout_for_python(docs).count() == docs.count()


def test_python_rows_emits_zero_one_or_many_rows_per_document(spark):
    """python_rows: fanout on the id column, one MapInPandas, output
    columns named from the DDL schema, and each document contributing
    exactly the rows its function returns."""
    df = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "abc")], "rid long, payload string"
    ).coalesce(1)  # one input partition, as a single-file scan plans

    def rows_of(rid, payload):
        for i, ch in enumerate(payload):
            yield (rid, i, ch.upper())

    out = python_rows(df, rows_of, "rid long, pos int, ch string")
    plan = formatted_plan(out)
    assert "MapInPandas" in plan and num_exchanges(out, plan) == 1
    assert out.columns == ["rid", "pos", "ch"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, "A"), (3, 0, "A"), (3, 1, "B"), (3, 2, "C"),
    ]


def test_sort_output_runs_the_python_stage_once_per_row(spark):
    """The output sort's range sampler must read the keyed exchange's
    shuffle files, not re-run the Python stage below it: an accumulator
    counts the calls to rows_of, one per input row. A bare orderBy on
    the stage samples its child and doubles the count."""
    n = 400
    calls = spark.sparkContext.accumulator(0)
    df = spark.range(0, n, 1, 1).selectExpr(
        "id AS rid", "CAST(id % 7 AS STRING) AS payload"
    )

    def rows_of(rid, payload):
        calls.add(1)
        yield (rid, payload)

    out = python_rows(df, rows_of, "rid long, payload string").transform(
        sort_output, "rid"
    )
    assert [r.rid for r in out.collect()] == list(range(n))
    assert calls.value == n


def test_ascii_codes_keeps_code_points_1_to_127():
    text = "a\x00b\u00e9c\x7f\u4e2d"
    expected = bytes(
        b for b in text.encode("ascii", "ignore") if 1 <= b <= 127
    )
    assert ascii_codes(text) == expected == b"abc\x7f"
    assert ascii_codes(None) == ascii_codes("") == b""
