"""Export sinks: reference framing parity (extractor.py:307-335, asserted
the same way the reference's own test does — tests/core/test_extractor.py:
136-179) plus the scalable JSON-lines path round-trip."""

from __future__ import annotations

import glob
import gzip
import json

from pyspark.sql import functions as F

from mongo_analyser_spark.sinks import (
    export_csv,
    export_json,
    export_json_array_gz,
    write_schema_json,
)
from mongo_analyser_spark.sinks.export import csv_string
from mongo_analyser_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_json_array_gz_framing(spark, tmp_path):
    ev = load_table(spark, SF, "events").orderBy("event_id").limit(5)
    out = str(tmp_path / "export.json.gz")
    n = export_json_array_gz(ev.select("event_id", "event_type"), out)
    assert n == 5
    raw = gzip.open(out, "rt", encoding="utf-8").read()
    # reference framing: opens '[\n', rows ',\n'-separated, closes '\n]\n'
    assert raw.startswith("[\n") and raw.endswith("\n]\n")
    assert raw.count(",\n") == 4
    docs = json.loads(raw)
    assert [d["event_id"] for d in docs] == [0, 1, 2, 3, 4]


def test_json_array_gz_empty(spark, tmp_path):
    ev = load_table(spark, SF, "events").filter(F.lit(False))
    out = str(tmp_path / "empty.json.gz")
    assert export_json_array_gz(ev, out) == 0
    assert json.loads(gzip.open(out, "rt").read()) == []


def test_json_lines_roundtrip(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "value")
    out = str(tmp_path / "jl")
    export_json(ev, out)
    parts = glob.glob(out + "/part-*.json.gz")
    assert parts, "expected gzip json shards"
    back = spark.read.json(out)
    assert back.count() == ev.count()


def test_csv_quote_all(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n int")
    out = str(tmp_path / "csv")
    export_csv(df.coalesce(1), out)
    [part] = glob.glob(out + "/part-*.csv")
    lines = open(part).read().strip().split("\n")
    assert lines[0] == '"name","n"'
    assert '"a","1"' in lines


def test_csv_string_clipboard():
    s = csv_string([{"field": "a.b", "type": "str"}, {"field": "c", "type": "int64"}])
    assert s.splitlines()[0] == '"field","type"'
    assert '"a.b","str"' in s


def test_schema_json_sink(tmp_path):
    p = str(tmp_path / "artifacts" / "schema.json")
    write_schema_json({"a": {"type": "str"}, "when": __import__("datetime").datetime(2024, 1, 1)}, p)
    data = json.load(open(p))
    assert data["a"]["type"] == "str"
    assert data["when"].startswith("2024-01-01")  # default=str fallback


def test_export_parquet_partitioned_roundtrip(spark, tmp_path):
    import os

    from mongo_analyser_spark.sinks.export import export_parquet

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"t{i}") for i in range(40)],
        "id long, lang string, text string",
    )
    out = str(tmp_path / "corpus")
    export_parquet(df, out, partition_by=["lang"], files_per_partition=2)
    # hive layout: one directory per lang value
    assert sorted(d for d in os.listdir(out) if d.startswith("lang=")) == [
        "lang=de", "lang=en",
    ]
    back = spark.read.parquet(out)
    assert back.count() == 40
    # partition pruning reaches the scan: only one dir read for lang=en
    assert back.filter("lang = 'en'").count() == 20
    # small-files control: ≤2 data files per partition value
    for d in ("lang=de", "lang=en"):
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert 1 <= len(files) <= 2, files


def test_export_parquet_sorted_produces_disjoint_zone_maps(spark, tmp_path):
    """Range-clustered export: per-file value ranges must be disjoint so
    parquet zone maps (describe_indexes) can skip row groups on a
    sort_col predicate; an unordered write interleaves ranges and defeats
    skipping."""
    import os

    from mongo_analyser_spark.sinks.export import export_parquet_sorted

    df = spark.range(0, 10000).selectExpr("id", "id % 97 AS payload")
    out = str(tmp_path / "sorted")
    export_parquet_sorted(df, out, "id", num_files=4)

    import pyarrow.parquet as pq

    ranges = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(out, f)).metadata
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(ci)
                for ci in range(meta.row_group(rg).num_columns)
                if meta.row_group(rg).column(ci).path_in_schema == "id"
            )
            ranges.append((col.statistics.min, col.statistics.max))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping zone maps: {(lo1, hi1)} vs {(lo2, _hi2)}"
    # and the reader actually prunes: a narrow id predicate reads back right
    back = spark.read.parquet(out).filter("id BETWEEN 100 AND 110")
    assert back.count() == 11


def test_rollup_roundtrip_matches_query_output(spark, tmp_path):
    """Round-2 verdict #9: materialized grains read back equal to the
    registered time_rollup_events output (grain labels in place of the
    NULL-pattern columns)."""
    from mongo_analyser_spark.queries import QUERIES
    from mongo_analyser_spark.sinks.rollup import materialize_rollup, read_rollup
    from mongo_analyser_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "rollup")
    ev = load_table(spark, sf, "events")
    materialize_rollup(ev, path)

    back = read_rollup(spark, path)
    q = QUERIES["time_rollup_events"](spark, sf)
    expect = {
        (r["day"], r["hour"], r["n_events"], r["sum_value"]) for r in q.collect()
    }
    got = {
        (r["day"] if r["grain"] != "total" else None,
         r["hour"], r["n_events"], r["sum_value"])
        for r in back.collect()
    }
    assert got == expect
    # grain filter is a partition prune: only that grain's rows come back
    hourly = read_rollup(spark, path, grain="hourly")
    assert hourly.select("grain").distinct().collect()[0][0] == "hourly"
    assert hourly.filter(F.col("hour").isNull()).count() == 0


def test_rollup_incremental_refresh_touches_only_named_days(spark, tmp_path):
    """Dynamic partition overwrite: refreshing one day leaves the other
    days' aggregates in place and swaps in the recomputed partitions."""
    from mongo_analyser_spark.sinks.rollup import (
        materialize_rollup,
        read_rollup,
        refresh_rollup,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "rollup")
    ev = load_table(spark, sf, "events")
    materialize_rollup(ev, path)
    days = sorted(
        r["day"]
        for r in read_rollup(spark, path, "daily").select("day").distinct().collect()
    )
    target, untouched = days[0], days[1]
    before = {
        (r["day"], r["hour"], r["n_events"])
        for r in read_rollup(spark, path).collect()
    }
    # drop half of the target day's events and refresh only that day
    sliced = ev.filter(
        (F.date_format(F.to_date("ts"), "yyyy-MM-dd") != target)
        | (F.col("event_id") % 2 == 0)
    )
    refresh_rollup(sliced, path, [target])
    after_daily = {
        r["day"]: r["n_events"]
        for r in read_rollup(spark, path, "daily").collect()
    }
    before_daily = {d: n for (d, h, n) in before if h is None and d is not None}
    assert after_daily[untouched] == before_daily[untouched]  # untouched day intact
    assert after_daily[target] < before_daily[target]  # refreshed day shrank
