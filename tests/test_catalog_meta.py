"""Index-analog listing (parquet zone maps, SURVEY S11) cross-checked
against DuckDB's parquet_metadata, and the L5 blocklist combinator."""

from __future__ import annotations

import duckdb

from mongo_analyser_spark.llm.blocklist import filter_blocklisted
from mongo_analyser_spark.sources.parquet import describe_indexes

SF = "/root/testdata/sf0.001"


def test_describe_indexes_matches_parquet_metadata(spark):
    idx = describe_indexes(spark, SF, "documents")
    rows = {(r["column"], r["row_group"]): r for r in idx.collect()}
    assert rows, "no zone-map entries"
    duck = duckdb.sql(
        f"""SELECT path_in_schema, row_group_id, row_group_num_rows,
                   stats_min_value, stats_max_value, stats_null_count
            FROM parquet_metadata('{SF}/documents.parquet')"""
    ).fetchall()
    assert len(duck) == len(rows)
    for col, rg, nrows, dmin, dmax, dnull in duck:
        r = rows[(col, rg)]
        assert r["num_rows"] == nrows
        assert r["null_count"] == dnull
        # numeric column stats agree exactly (strings may be truncated
        # differently by the two readers)
        if col in ("doc_id", "n_chars"):
            assert r["min"] == str(dmin) and r["max"] == str(dmax)


def test_describe_indexes_covers_all_columns(spark):
    idx = describe_indexes(spark, SF, "events")
    cols = {r["column"] for r in idx.collect()}
    assert {"event_id", "ts", "user_id", "event_type", "value", "props"} <= cols


def test_blocklist_exact_and_patterns(spark):
    models = spark.createDataFrame(
        [("gpt-4",), ("text-davinci-003",), ("o1-preview",), ("llama3",), ("ada",)],
        "name string",
    )
    out = filter_blocklisted(
        models,
        exact=["ada"],
        patterns=[r"davinci", r"^o1-"],
    )
    assert {r["name"] for r in out.collect()} == {"gpt-4", "llama3"}


def test_blocklist_case_insensitive(spark):
    models = spark.createDataFrame([("GPT-4-Turbo",), ("claude-3",)], "name string")
    out = filter_blocklisted(models, patterns=[r"gpt"])
    assert {r["name"] for r in out.collect()} == {"claude-3"}


def test_blocklist_noop_without_lists(spark):
    models = spark.createDataFrame([("a",), ("b",)], "name string")
    assert filter_blocklisted(models).count() == 2


def test_load_table_sets_nanos_conf_for_foreign_sessions(spark):
    """Regression: the round-1 driver harness built its own SparkSession
    (without spark.sql.legacy.parquet.nanosAsLong) and every events read
    died with PARQUET_TYPE_ILLEGAL. load_table must set the conf itself."""
    from mongo_analyser_spark.sources.parquet import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() == 1000


def test_table_schema_memo_hits_and_invalidation(spark, tmp_path):
    """r15: load_table passes an explicit memoized schema so repeat reads
    plan ZERO schema-inference jobs — and the memo keys on the file's
    identity (mtime/size), so a rewritten file re-infers instead of
    serving a stale schema."""
    import shutil

    from mongo_analyser_spark.sources import parquet as src

    p = tmp_path / "docs.parquet"
    shutil.copy(f"{SF}/documents.parquet", p)
    sf_dir = str(tmp_path)

    src._SCHEMA_CACHE.clear()
    a = src.load_table(spark, sf_dir, "docs")
    key = src._stat_key(str(p))
    assert key in src._SCHEMA_CACHE
    b = src.load_table(spark, sf_dir, "docs")
    assert a.schema == b.schema == src._SCHEMA_CACHE[key]
    # the memoized read sees the same data
    n = a.count()
    assert b.count() == n > 0

    # rewrite the file with a different schema: the old key must not
    # serve — a new key re-infers from the new footer
    b.select("doc_id").write.mode("overwrite").parquet(str(tmp_path / "docs2.parquet"))
    p.unlink()
    shutil.copytree(tmp_path / "docs2.parquet", p)
    c = src.load_table(spark, sf_dir, "docs")
    assert [f.name for f in c.schema.fields] == ["doc_id"]
    assert c.count() == n


def test_table_row_count_matches_scan_and_invalidates(spark, tmp_path):
    """r15: table_row_count serves the exact footer num_rows with zero
    Spark jobs (sizes data-scaled LSH band params), keyed on file
    identity so a rewritten file re-reads; filtered frames never use it."""
    import shutil

    from mongo_analyser_spark.sources import parquet as src

    p = tmp_path / "docs.parquet"
    shutil.copy(f"{SF}/documents.parquet", p)
    sf_dir = str(tmp_path)

    src._ROW_COUNT_CACHE.clear()
    n = src.table_row_count(sf_dir, "docs")
    assert n == src.load_table(spark, sf_dir, "docs").count() > 0
    assert src._stat_key(str(p)) in src._ROW_COUNT_CACHE
    assert src.table_row_count(sf_dir, "docs") == n

    # rewrite with fewer rows: the new identity must re-read the footer
    src.load_table(spark, sf_dir, "docs").limit(7).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "docs2.parquet"))
    p.unlink()
    shutil.copytree(tmp_path / "docs2.parquet", p)
    assert src.table_row_count(sf_dir, "docs") == 7


def test_table_row_count_empty_table_and_missing_files(tmp_path):
    """A table whose footers say 0 rows counts 0 (and sizes SRP bands
    with the defaults); only a table path holding no .parquet file
    raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mongo_analyser_spark.operators.dedup import srp_band_params
    from mongo_analyser_spark.sources import parquet as src

    empty = pa.table({"doc_id": pa.array([], pa.int64())})
    pq.write_table(empty, tmp_path / "flat.parquet")
    (tmp_path / "parts.parquet").mkdir()
    pq.write_table(empty, tmp_path / "parts.parquet" / "part-0.parquet")
    (tmp_path / "parts.parquet" / "_SUCCESS").touch()
    assert src.table_row_count(str(tmp_path), "flat") == 0
    assert src.table_row_count(str(tmp_path), "parts") == 0
    assert srp_band_params(0) == srp_band_params(1)

    (tmp_path / "bare.parquet").mkdir()
    (tmp_path / "bare.parquet" / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError):
        src.table_row_count(str(tmp_path), "bare")
