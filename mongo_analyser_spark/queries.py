"""Query registry: every operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable, each with a DuckDB oracle-SQL twin.

Determinism rules (the driver compares row-count + schema + order-insensitive
value hash against DuckDB at sf0.01 — SURVEY §5 'our added layer'):
* every computed column is explicitly aliased the same in both engines;
* double aggregates go through decimal casts or ROUND so IEEE
  summation-order differences can't flip a bit;
* timestamps are emitted as formatted strings (engine-native timestamp
  printing differs);
* all top-k / limit queries have total tie-break orders.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongo_analyser_spark.functions.conversion import (
    display_safe,
    humanize_bytes,
    local_timestamp,
    truncate_with_ellipsis,
)
from mongo_analyser_spark.operators.field_stats import (
    TS_FMT,
    array_element_stats,
    field_stats,
    top_values,
    type_histogram,
)
from mongo_analyser_spark.operators.fanout import fanout_for_python
from mongo_analyser_spark.operators.relational import top_k_per_group
from mongo_analyser_spark.sources.parquet import (
    EVENTS_PROPS_SCHEMA,
    list_collections,
    load_table,
)

DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# For queries whose oracle depends on data-derived literals (e.g. k-means
# centroids trained on the sf's embeddings): name -> fn(sf_dir) -> SQL.
# ORACLES still holds the sf0.01-baked string (the driver's contract runs
# the oracle at sf=0.01); local tools regenerate per sf_dir from here.
ORACLE_GENERATORS: dict[str, Callable[[str], str]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Field-stats family (reference flagship: core/analyser.py §2.4 A1-A9)
# --------------------------------------------------------------------------

# shared melt CTE for the events oracle — mirrors operators/melt.py exactly
_EVENTS_MELT_SQL = """
WITH melt AS (
  SELECT 'event_id' AS field, 'int64' AS tag, event_id IS NOT NULL AS present,
         CAST(event_id AS VARCHAR) AS v_str, CAST(event_id AS DOUBLE) AS v_num,
         CAST(NULL AS TIMESTAMP) AS v_ts FROM events
  UNION ALL
  SELECT 'ts', 'datetime', ts IS NOT NULL, NULL, NULL, CAST(ts AS TIMESTAMP) FROM events
  UNION ALL
  SELECT 'user_id', 'int64', user_id IS NOT NULL, CAST(user_id AS VARCHAR),
         CAST(user_id AS DOUBLE), NULL FROM events
  UNION ALL
  SELECT 'event_type', 'str', event_type IS NOT NULL, event_type, NULL, NULL FROM events
  UNION ALL
  SELECT 'value', 'double', value IS NOT NULL, NULL, value, NULL FROM events
  UNION ALL
  SELECT 'props', 'dict', props IS NOT NULL, props, NULL, NULL FROM events
  UNION ALL
  SELECT 'props.k', 'int64', (props->>'$.k') IS NOT NULL,
         CAST(CAST(props->>'$.k' AS BIGINT) AS VARCHAR),
         CAST(props->>'$.k' AS DOUBLE), NULL FROM events
)
"""


@register(
    "field_stats_events",
    _EVENTS_MELT_SQL
    + f"""
SELECT field,
  CAST(count(*) FILTER (WHERE present) AS BIGINT) AS cnt,
  ROUND((count(*) - count(*) FILTER (WHERE present)) * 100.0 / count(*), 4) AS missing_pct,
  CAST(count(DISTINCT COALESCE(v_str, CAST(v_num AS VARCHAR), CAST(v_ts AS VARCHAR))) AS BIGINT) AS distinct_cnt,
  MIN(v_num) AS min_num, MAX(v_num) AS max_num,
  strftime(MIN(v_ts), '{DUCK_TS_FMT}') AS min_ts,
  strftime(MAX(v_ts), '{DUCK_TS_FMT}') AS max_ts
FROM melt GROUP BY field ORDER BY field
""",
)
def q_field_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: adaptive fanout — the staged from_json parse + explode melt
    # runs map-side on the one-row-group fixture scan's single task
    # (fanout_for_python docstring; A/B 1.34 → 0.82 s, rows identical)
    ev = fanout_for_python(load_table(spark, sf_dir, "events"), "event_id")
    return field_stats(ev, {"props": EVENTS_PROPS_SCHEMA})


@register(
    "type_histogram_events",
    _EVENTS_MELT_SQL
    + """
SELECT field, CASE WHEN present THEN tag ELSE 'null' END AS type_tag,
       CAST(count(*) AS BIGINT) AS cnt
FROM melt GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_type_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: adaptive fanout (see q_field_stats_events)
    ev = fanout_for_python(load_table(spark, sf_dir, "events"), "event_id")
    return type_histogram(ev, {"props": EVENTS_PROPS_SCHEMA})


@register(
    "top_values_events",
    _EVENTS_MELT_SQL
    + """
, counted AS (
  SELECT field, v_str AS value, CAST(count(*) AS BIGINT) AS cnt
  FROM melt WHERE present AND tag = 'str' AND length(v_str) < 256
  GROUP BY field, v_str
)
SELECT field, value, cnt, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY field ORDER BY cnt DESC, value ASC) AS rnk
  FROM counted
) WHERE rnk <= 5 ORDER BY field, rnk
""",
)
def q_top_values_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: adaptive fanout (see q_field_stats_events)
    ev = fanout_for_python(load_table(spark, sf_dir, "events"), "event_id")
    return top_values(ev, {"props": EVENTS_PROPS_SCHEMA})


@register(
    "array_stats_embeddings",
    f"""
WITH elems AS (
  SELECT 'embedding[]' AS field, e IS NOT NULL AS present,
         CAST(e AS DOUBLE) AS v_num
  FROM (SELECT unnest(embedding) AS e FROM embeddings)
)
SELECT field,
  CAST(count(*) FILTER (WHERE present) AS BIGINT) AS cnt,
  ROUND((count(*) - count(*) FILTER (WHERE present)) * 100.0 / count(*), 4) AS missing_pct,
  CAST(count(DISTINCT CAST(v_num AS VARCHAR)) AS BIGINT) AS distinct_cnt,
  MIN(v_num) AS min_num, MAX(v_num) AS max_num,
  CAST(NULL AS VARCHAR) AS min_ts, CAST(NULL AS VARCHAR) AS max_ts
FROM elems GROUP BY field ORDER BY field
""",
)
def q_array_stats_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return array_element_stats(emb, "embedding")


# --------------------------------------------------------------------------
# Scans / sampling / ordering (reference §2.1 S1-S4, §2.6)
# --------------------------------------------------------------------------


@register(
    "newest_n_events",
    f"""
SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '{DUCK_TS_FMT}') AS ts_s,
       user_id, event_type, value, props
FROM events ORDER BY event_id DESC LIMIT 100
""",
)
def q_newest_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-N scan (reference sort(_id desc).limit(n),
    core/extractor.py:386-393). Spark plans TakeOrderedAndProject — top-K
    without a full sort, safe at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("event_id"))
        .limit(100)
        .select(
            "event_id",
            F.date_format("ts", TS_FMT).alias("ts_s"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )


@register(
    "sample_events_deterministic",
    """
SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 10 = 0
""",
)
def q_sample_events_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% 'sample' (reference $sample is server-side random,
    core/analyser.py:254-257; for oracle determinism we key the sample on
    the id — same pushdown-able filter shape)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "list_collections",
    "SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),"
    "('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) t(name) ORDER BY name",
)
def q_list_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted collection list (reference core/analyser.py:227-240)."""
    return list_collections(spark, sf_dir)


@register(
    "describe_collection_events",
    """
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
       ROUND(CAST(SUM(length(props)) AS DOUBLE) / count(*), 4) AS avg_props_len
FROM events
""",
)
def q_describe_collection_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collStats analog (reference views/db_connection_view.py:197-205):
    doc count / distinct types / average serialized size proxy.
    Average computed as exact integer sum / count (one double division) so
    the DuckDB twin is bit-identical — AVG() accumulation order is not."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.count_distinct("event_type").alias("n_event_types"),
        F.round(
            F.sum(F.length("props")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_props_len"),
    )


# --------------------------------------------------------------------------
# Conversion / export / display (reference §2.2 P2-P4, §2.8 F1-F9)
# --------------------------------------------------------------------------


@register(
    "convert_export_events",
    f"""
SELECT event_id,
  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS ts_utc,
  strftime((CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Oslo',
           '%Y-%m-%dT%H:%M:%S') AS ts_oslo,
  event_type,
  CAST(props->>'$.k' AS BIGINT) AS props_k
FROM events
""",
)
def q_convert_export_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-directed export conversion (reference extractor.py:91-246):
    naive-UTC timestamps to ISO strings incl. the Europe/Oslo tz-convert
    case the reference tests (tests/core/test_extractor.py:75-76), JSON
    leaves surfaced typed."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        local_timestamp("ts", "UTC").alias("ts_utc"),
        local_timestamp("ts", "Europe/Oslo").alias("ts_oslo"),
        "event_type",
        F.from_json("props", EVENTS_PROPS_SCHEMA).getField("k").alias("props_k"),
    )


@register(
    "display_truncation_documents",
    """
SELECT doc_id,
  CASE WHEN length(text) > 500 THEN 'str(too large to display inline)'
       WHEN length(text) > 100 THEN substr(text, 1, 100) || '...'
       ELSE text END AS display_text
FROM documents
""",
)
def q_display_truncation_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-safe conversion (reference extractor.py:396-451): >500-char
    serialized values collapse to '<type>(too large to display inline)',
    shorter ones are ellipsis-truncated to the UI cap."""
    docs = load_table(spark, sf_dir, "documents")
    # guard FIRST (checks the original length), then ellipsis-truncate —
    # the placeholder itself is short, so truncation no-ops on it
    return docs.select(
        "doc_id",
        truncate_with_ellipsis(display_safe(F.col("text"), "str"), 100).alias(
            "display_text"
        ),
    )


@register(
    "binary_conversion_documents",
    """
SELECT doc_id,
  lower(hex(encode(substr(text, 1, 12)))) AS text_hex,
  substr(md5(text), 1, 8) || '-' || substr(md5(text), 9, 4) || '-' ||
  substr(md5(text), 13, 4) || '-' || substr(md5(text), 17, 4) || '-' ||
  substr(md5(text), 21, 12) AS content_uuid,
  CAST(CAST(n_chars AS DECIMAL(18,2)) AS VARCHAR) AS n_chars_decimal
FROM documents
""",
)
def q_binary_conversion_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/decimal export conversions (SURVEY F2/F3/F4) made
    oracle-checkable: the testdata has no binary column, so bytes are
    derived in-query — UTF-8-encoded text prefix → lowercase hex
    (extractor.py:154,199-200), the text's md5 digest bytes → canonical
    8-4-4-4-12 UUID string (extractor.py:131-170), and a decimal cast
    rendered as string (extractor.py:202-208)."""
    from mongo_analyser_spark.functions.conversion import binary_hex, uuid_canonical

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        binary_hex(F.encode(F.substring("text", 1, 12), "UTF-8")).alias("text_hex"),
        uuid_canonical(F.unhex(F.md5("text"))).alias("content_uuid"),
        F.col("n_chars").cast("decimal(18,2)").cast("string").alias("n_chars_decimal"),
    )


@register(
    "bytes_human_documents",
    """
SELECT doc_id,
  CAST(ROUND(n_chars / POWER(1024.0, CASE WHEN n_chars <= 0 THEN 0
        ELSE LEAST(CAST(FLOOR(LOG(n_chars) / LOG(1024.0)) AS INTEGER), 6) END), 2)
       AS VARCHAR)
  || ' ' ||
  (['B','KB','MB','GB','TB','PB','EB'])[CASE WHEN n_chars <= 0 THEN 0
        ELSE LEAST(CAST(FLOOR(LOG(n_chars) / LOG(1024.0)) AS INTEGER), 6) END + 1]
  AS size_human
FROM documents
""",
)
def q_bytes_human_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte humanization (reference _format_bytes_tui,
    views/db_connection_view.py:676-699) as a pure expression."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", humanize_bytes("n_chars").alias("size_human"))


# --------------------------------------------------------------------------
# Relational family [EXT] (SURVEY §2.3/2.4/2.5/2.6/2.7): star-schema
# queries over the TPC-H-ish testdata. Determinism: all money math in
# decimal, doubles only at the output boundary.
# --------------------------------------------------------------------------


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over the synthetic lineitem: grouped multi-aggregate
    with decimal-exact money math (one scan, partial aggs map-side; the
    classic 100 TB-safe reduction)."""
    # r16: adaptive fanout — the decimal partial aggregation over the
    # full lineitem runs map-side on the one-row-group fixture scan's
    # single task (A/B on the agg segment 0.79 → 0.53 s at sf0.1, rows
    # identical); auto-skipped when the scan splits
    li = fanout_for_python(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    ).filter(
        F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp")
    )
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (F.lit(1) + _dec("l_tax"))).cast("decimal(18,6)")
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / cnt, 4).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / cnt, 4).alias(
                "avg_price"
            ),
            F.round(F.sum(_dec("l_discount")).cast("double") / cnt, 4).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: star join, grouped revenue, global top-10 planned as
    TakeOrderedAndProject. customer and orders grow linearly with scale
    factor (150k / 1.5M rows per sf), so NO explicit broadcast hints —
    AQE picks broadcast at small sf and shuffle-hash at 100 TB, where a
    forced broadcast would OOM the executors."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp")
    )
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            orders.join(cust, F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY n_name
""",
)
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join chain. Only the FIXED-size dims
    (nation=25 rows, region=5 rows, sf-invariant) get explicit broadcast
    hints; orders/customer/supplier scale with sf and must be allowed to
    shuffle — AQE still broadcasts them at small sf, but a forced hint
    would OOM a 100 TB run."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy("n_name")
    )


@register(
    "join_semi_customers_with_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (SURVEY J3)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "join_anti_customers_without_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (SURVEY J3) — the reference's blocklist-filter shape
    (llm_chat/wrapper.py:66-81) generalized: customers with no pending
    orders (plain 'no orders' is empty in this data)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "join_range_part_lineitem",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity BETWEEN p_size - 2 AND p_size + 2
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range predicate join (SURVEY J4): the range rides on the hash
    join as a post-filter — no nested-loop explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            (F.col("l_quantity") >= F.col("p_size") - 2)
            & (F.col("l_quantity") <= F.col("p_size") + 2)
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "asof_join_events_signup",
    f"""
SELECT event_id,
  strftime(last_signup_ts, '{DUCK_TS_FMT}') AS last_signup
FROM (
  SELECT event_id, event_type,
    last_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
  FROM events
)
ORDER BY event_id
""",
)
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of semantics (SURVEY J5): each event sees the most recent signup
    at-or-before its timestamp for the same user. Window-based: one
    shuffle on user_id, O(1) state per key."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "last_signup_ts",
            F.last(
                F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
            ).over(w),
        )
        .select(
            "event_id", F.date_format("last_signup_ts", TS_FMT).alias("last_signup")
        )
    )


@register(
    "window_top3_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_custkey, rnk
""",
)
def q_window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (reference W1 Counter.most_common(5) generalized)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        top_k_per_group(
            orders,
            ["o_custkey"],
            [F.desc("o_totalprice"), F.asc("o_orderkey")],
            3,
        )
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    )


@register(
    "window_user_running_value",
    f"""
SELECT event_id, user_id,
  ROUND(SUM(value) OVER w, 4) AS running_value,
  LAG(event_id) OVER w AS prev_event_id,
  LEAD(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
ORDER BY event_id
""",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions [EXT W4]: running sum + lag/lead per user
    in event-time order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            4,
        ).alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "rollup_orders_priority_status",
    """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
  COALESCE(o_orderstatus, 'ALL') AS status,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY priority, status
""",
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup [EXT A12]."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
        .orderBy("priority", "status")
    )


@register(
    "cube_lineitem_flags",
    """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube [EXT A12]."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "pivot_event_counts_by_user",
    """
SELECT user_id,
  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot [EXT]: explicit value list so the plan is a single pass
    (no value-discovery job) — required practice at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "setops_nation_coverage",
    """
SELECT 'both' AS tag, n FROM (
  SELECT c_nationkey AS n FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'customer_only', n FROM (
  SELECT c_nationkey AS n FROM customer EXCEPT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'supplier_only', n FROM (
  SELECT s_nationkey AS n FROM supplier EXCEPT SELECT c_nationkey FROM customer)
ORDER BY tag, n
""",
)
def q_setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra [EXT §2.7]: intersect / except over dimension keys."""
    cn = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n")
    )
    sn = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n")
    )
    # intersect/subtract are SQL INTERSECT/EXCEPT (set-distinct) semantics;
    # exceptAll would be multiset subtraction and leaves duplicates behind
    both = cn.intersect(sn).select(F.lit("both").alias("tag"), "n")
    c_only = cn.subtract(sn).select(F.lit("customer_only").alias("tag"), "n")
    s_only = sn.subtract(cn).select(F.lit("supplier_only").alias("tag"), "n")
    return both.unionByName(c_only).unionByName(s_only).orderBy("tag", "n")


@register(
    "distinct_event_types",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
)
def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-sorted list (reference A11 sorted(set(models)))."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_type").distinct().orderBy("event_type")


@register(
    "value_percentiles_events",
    """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 4) AS p50,
  ROUND(quantile_cont(value, 0.9), 4) AS p90,
  ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (SURVEY §2.4 [EXT] —
    distribution stats beyond min/max). `percentile` is exact
    (quantile_cont semantics, matching the oracle); the 100 TB variant is
    `approx_percentile(value, p, accuracy)` — same plan shape, bounded
    t-digest state instead of a per-group value sort."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "numeric_profile_documents",
    """
SELECT 'n_chars' AS field,
  CAST(count(n_chars) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(n_chars), 4) AS mean,
  ROUND(sqrt((CAST(SUM(CAST(n_chars AS DECIMAL(18,2)) * CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
       - CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
         * CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(n_chars))
      / (count(n_chars) - 1)), 4) AS stddev,
  CAST(MIN(n_chars) AS DOUBLE) AS min_v,
  CAST(MAX(n_chars) AS DOUBLE) AS max_v
FROM documents
""",
)
def q_numeric_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile beyond min/max (profiling-engine staple):
    mean + sample stddev computed from EXACT decimal sum / sum-of-squares
    (sqrt((Σx² − (Σx)²/n)/(n−1))) — the builtin stddev_samp folds doubles
    in partition order, which hash-flaps against any oracle; decimal
    moments make the answer order-free, then one double division/sqrt at
    the end. Same single-pass shape (two sums + count + min/max in one
    partial-aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(18,2)")
    n = F.count("n_chars")
    sum_x = F.sum(x).cast("double")
    sum_x2 = F.sum(x * x).cast("double")
    return docs.agg(
        F.lit("n_chars").alias("field"),
        n.alias("n"),
        F.round(sum_x / n, 4).alias("mean"),
        F.round(F.sqrt((sum_x2 - sum_x * sum_x / n) / (n - F.lit(1))), 4).alias("stddev"),
        F.min("n_chars").cast("double").alias("min_v"),
        F.max("n_chars").cast("double").alias("max_v"),
    )


# --- sketch variants (rows-only: approximate answers are not SQL-oracle
# reproducible by design; the driver contract records a weaker rows-only
# check for them, and pytest bounds their error vs the exact twins) -----


@register("field_stats_events_hll")
def q_field_stats_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship per-field stats with HLL approximate distinct — the
    100 TB variant of field_stats_events: same single melt + one
    groupBy(field) plan, but cardinality comes from approx_count_distinct
    (fixed-width HLL sketch state) instead of the exact two-level
    distinct cascade. Plan pinned ≤2 exchanges in tests/test_plans.py."""
    from mongo_analyser_spark.operators.field_stats import field_stats

    # r16: adaptive fanout (see q_field_stats_events)
    ev = fanout_for_python(load_table(spark, sf_dir, "events"), "event_id")
    return field_stats(ev, {"props": EVENTS_PROPS_SCHEMA}, approx=True)


@register("value_percentiles_events_approx")
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile twin of value_percentiles_events: bounded
    sketch state per group instead of a per-group value sort — the shape
    that survives a 100 TB group-by. Accuracy 10000 ≈ 0.01% rank error;
    pytest asserts agreement with the exact percentiles within
    tolerance."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 4).alias("p50"),
            F.round(F.expr("approx_percentile(value, 0.9, 10000)"), 4).alias("p90"),
            F.round(F.expr("approx_percentile(value, 0.99, 10000)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "schema_documents",
    """
SELECT column_name AS field,
  CASE data_type
    WHEN 'BIGINT' THEN 'int64'
    WHEN 'INTEGER' THEN 'int32'
    WHEN 'VARCHAR' THEN 'str'
    WHEN 'DOUBLE' THEN 'double'
    WHEN 'BOOLEAN' THEN 'bool'
    WHEN 'TIMESTAMP' THEN 'datetime'
  END AS type
FROM information_schema.columns WHERE table_name = 'documents'
ORDER BY column_name
""",
)
def q_schema_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference artifact as a queryable table: dotted field paths
    with reference type labels (analyser.py:320-321 sorted flat schema),
    cross-checked against the engine-independent catalog view."""
    from mongo_analyser_spark.engine import Engine

    schema = Engine(spark).infer_schema(load_table(spark, sf_dir, "documents"))
    rows = [(k, v["type"]) for k, v in schema.items()]
    return spark.createDataFrame(rows, "field string, type string").orderBy("field")


@register(
    "q4_priority_with_returns",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q_q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape) run through the pure
    SQL surface: Catalyst decorrelates the subquery into a left-semi join
    on l_orderkey (SURVEY §4.2 'subquery decorrelation — built-in');
    verify with plans.formatted_plan — no per-row subquery execution."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@register(
    "q10_returned_revenue",
    """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue top-20 customers from returned items.
    Only sf-invariant nation (25 rows) is broadcast-hinted; customer scales
    with sf so AQE decides its join strategy. The decimal-sum keeps the
    aggregate order-insensitive (IEEE double sums are not)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
         * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 25
""",
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate. Every predicate
    reaches the parquet scan (PushedFilters), the scan reads 4 columns of
    11 (ReadSchema), and the single-row result needs one SinglePartition
    exchange — the minimal possible plan for a 100 TB fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_discount").cast("decimal(18,2)")
    ).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.02, 0.08))
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q14_promo_revenue",
    """
SELECT
  CAST(ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END)
    / SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 6) AS DOUBLE)
  AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-06-01'
""",
)
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate over a fact⋈dim join — the
    promo revenue share. Date predicates push to the lineitem scan; part
    is a broadcastable dim (sf-bounded per the ADVICE rule: part-sized is
    fine, fact-sized is not); the division happens once on two exact
    decimal sums, then rounds — deterministic in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-06-01")
    )
    part = load_table(spark, sf_dir, "part")
    rev = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                / F.sum(rev),
                6,
            )
            .cast("double")
            .alias("promo_pct")
        )
    )


@register(
    "q18_large_orders",
    """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS totalprice,
  CAST(sum_qty AS DOUBLE) AS sum_qty
FROM orders JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
) big ON o_orderkey = big.l_orderkey
ORDER BY totalprice DESC, o_orderkey LIMIT 20
""",
)
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-then-filter (HAVING on a grouped sum) join
    back to the parent — large-quantity orders. The aggregate SHRINKS
    lineitem to per-order rows before the join, so the join input is
    orders-sized, not lineitem-sized; top-20 plans as
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).cast("double").alias("totalprice"),
            F.col("sum_qty").cast("double"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_predicates",
    """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 5 AND 25)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 15 AND 40)
   OR (p_type = 'PROMO' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
""",
)
def q_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted to this dataset's columns): OR-of-ANDs
    predicate spanning both join sides. Catalyst factors the
    single-side conjuncts out of the disjunction so each scan still gets
    a pushed filter (l_quantity ranges to lineitem, brand/size/type to
    part) — the textbook disjunctive-pushdown test. The residual mixed
    predicate rides the hash join as a post-filter, never a
    nested-loop."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(5, 25)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(15, 40)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register(
    "q7_nation_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
    l_extendedprice, l_discount
  FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    nation joins twice under different roles (self-join of a dim), a
    cross-side disjunction, and a year-extraction group key. Both nation
    sides broadcast (25 rows); supplier/customer/orders stay AQE-ruled."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q15_top_supplier",
    """
WITH srev AS (
  SELECT l_suppkey,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM supplier JOIN srev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM srev)
ORDER BY s_suppkey
""",
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate → scalar max over the aggregate →
    equality join back (the 'view + max' pattern). The revenue aggregate
    is computed ONCE into a shared subplan; the max is a scalar subquery
    over per-supplier rows (supplier-sized, tiny), never a second
    lineitem scan in SQL terms. Exact decimal revenue keeps the max
    equality deterministic — a double max could miss by 1 ulp."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    srev = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    best = srev.agg(F.max("total_rev").alias("m"))
    return (
        supp.join(srev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(best), F.col("total_rev") == F.col("m"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double"))
        .orderBy("s_suppkey")
    )


@register(
    "q8_market_share",
    """
WITH allnations AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
         * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume,
    sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_year,
  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM allnations GROUP BY o_year ORDER BY o_year
""",
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (adapted: p_type bucket instead of the long type
    string, supplier nation NATION_2 inside region ASIA): the 8-way
    snowflake join — fact lineitem against two independent dimension
    arms (order→customer→nation→region for market scope,
    supplier→nation for share attribution) plus a part filter. The
    region/nation dims are broadcast; part/customer/supplier joins are
    left declarative so AQE picks broadcast at test scale and shuffle
    at cluster scale. Market share = exact-decimal conditional sum over
    exact-decimal total, divided as doubles only at the end (both
    engines see bit-identical operands, so ROUND(...,6) agrees).

    Reference parity: the relational tier [EXT] extends SURVEY §2.3 J2
    beyond the reference's single-collection joins."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (adapted: the o_comment NOT LIKE filter becomes
    an o_orderpriority exclusion — this dataset has no comment column):
    outer-join count distribution. The LEFT join keeps order-less
    customers (count 0 — the rows an inner join would silently drop),
    the join-side predicate stays in the ON clause (in WHERE it would
    turn the outer join back into an inner one), and the double
    aggregation shrinks customer×orders to customer-sized then to
    ~tens of distinct counts. Both groupBys hash-partition on their
    key; the second input is already tiny."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q17_small_quantity_revenue",
    """
WITH brand_lines AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#23'),
part_avg AS (
  SELECT l_partkey AS pk,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
    CAST(count(*) AS BIGINT) AS cnt
  FROM brand_lines GROUP BY l_partkey)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       / 7.0 AS DOUBLE) AS avg_yearly
FROM brand_lines JOIN part_avg ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty
""",
)
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (l_quantity <
    0.2 * per-part avg) decorrelated into aggregate-then-rejoin — the
    rewrite Catalyst itself applies to correlated scalar subqueries.
    The brand filter cuts lineitem FIRST (part semi-side; no explicit
    broadcast hint — brand-filtered part is still sf-proportional, so
    AQE picks broadcast at test scale and shuffle at cluster scale),
    so the per-part aggregate and the rejoin both run over the reduced
    set; the threshold comparison is integer-exact decimal algebra
    (qty < sum/(5*cnt) ⇔ qty*5*cnt < sum) so no engine disagrees on a
    boundary row the way double division could."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    brand_lines = li.join(
        part.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    part_avg = brand_lines.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        brand_lines.join(part_avg, F.col("l_partkey") == F.col("pk"))
        .filter(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q21_waiting_suppliers",
    """
WITH l AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F')
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM l l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM l l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: 'late' = shipped >90 days after the
    order date — this dataset has no commit/receipt dates): suppliers
    who were the SOLE late shipper on a finished multi-supplier order.
    The oracle keeps the textbook correlated EXISTS + NOT-EXISTS; the
    Spark plan is the decorrelated equivalent — per-order distinct
    supplier counts (total and late) computed as TWO window aggregates
    over the SAME partition-by-l_orderkey spec, so the whole
    exists/not-exists pair costs ONE shuffle of the joined fact (a
    groupBy + join-back would scan and shuffle it twice); a late line
    qualifies iff n_supps > 1 AND n_late_supps = 1 (this line's
    supplier being late makes it the only one). Per-order groups are
    order-sized (a few lines), so the window state is tiny. LIMIT 20
    follows a total order (numwait DESC, unique s_name) so top-k is
    deterministic."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    flagged = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    per_order = Window.partitionBy("l_orderkey")
    counted = flagged.select(
        "l_suppkey",
        "late",
        F.size(F.collect_set("l_suppkey").over(per_order)).alias("n_supps"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(per_order)
        ).alias("n_late_supps"),
    )
    return (
        counted.filter(
            F.col("late") & (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q22_inactive_customers",
    """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total,
         CAST(count(*) AS BIGINT) AS cnt
  FROM customer WHERE c_acctbal > 0.0)
SELECT n_name AS cntry,
  CAST(count(*) AS BIGINT) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON n_nationkey = c_nationkey, pos
WHERE n_name IN ('NATION_2','NATION_3','NATION_7','NATION_8',
                 'NATION_12','NATION_17','NATION_22')
  AND CAST(c_acctbal AS DECIMAL(18,2)) * cnt > total
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01')
GROUP BY n_name ORDER BY n_name
""",
)
def q_q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: nation-name IN-list instead of phone
    country codes, and 'never ordered' tightened to 'no order in the
    dataset's final 18 months' because this generator gives every
    customer at least one early order). Three classic pieces in one
    plan — an uncorrelated scalar aggregate (the positive-balance
    average) broadcast to every row, a NOT EXISTS decorrelated to a
    left-anti join on o_custkey (with the date predicate pushed into
    the anti side's scan), and a selective IN-list that prunes before
    either. The threshold is exact decimal algebra (bal > total/cnt ⇔
    bal*cnt > total), so the boundary set is bit-identical across
    engines; the anti-join is the only big shuffle, keyed on custkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(_dec("c_acctbal")).alias("total"),
        F.count(F.lit(1)).alias("cnt"),
    )
    keep = [
        "NATION_2", "NATION_3", "NATION_7", "NATION_8",
        "NATION_12", "NATION_17", "NATION_22",
    ]
    return (
        cust.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .filter(F.col("n_name").isin(keep))
        .crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("cnt") > F.col("total"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntry")
    )


@register(
    "funnel_conversion_events",
    """
WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND ts > t1
         AND ts <= t1 + INTERVAL 24 HOUR GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t2
         AND ts <= t2 + INTERVAL 24 HOUR GROUP BY 1)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_viewed,
       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_clicked_24h,
       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchased_24h
""",
)
def q_funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → click within 24 h → purchase within
    24 h): the event-sequence analytics shape — each stage anchors on
    the PREVIOUS stage's first-qualifying timestamp, so order matters
    (not three independent filters).  Plan: three per-user aggregates,
    every shuffle keyed on user_id — the same partitioning flows through
    all three stages and the stage joins, so at scale the funnel costs
    one fact partitioning reused, not three independent shuffles; each
    stage's input shrinks (monotone conversion)."""
    ev = load_table(spark, sf_dir, "events")
    h24 = F.expr("INTERVAL 24 HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + h24))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + h24))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_clicked_24h")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchased_24h")))
    )


@register(
    "retention_cohorts_events",
    """
WITH cohort AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS c
                FROM events GROUP BY 1),
active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT strftime(c, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', c, d) AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM cohort JOIN active USING (user_id)
WHERE date_diff('day', c, d) BETWEEN 0 AND 7
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (day-0 cohort = first-event date; day_offset k =
    still active k days later, k ≤ 7) — the classic product-analytics
    triangle.  Plan: one per-user aggregate (cohort), one distinct over
    (user, day) — both keyed on user_id, join keyed the same — then a
    tiny (cohort, k) rollup; calendar-day integer arithmetic is
    engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("c"))
    active = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    k = F.datediff(F.col("d"), F.col("c"))
    return (
        cohort.join(active, "user_id")
        .filter((k >= 0) & (k <= 7))
        .groupBy(
            F.date_format("c", "yyyy-MM-dd").alias("cohort_day"),
            k.cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def _morton_oracle_sql() -> str:
    """DuckDB twin of sinks/zorder.morton_key over bucketed (user_id,
    value): the scale factors are inlined as Python-float reprs so both
    engines multiply by the bit-identical constant."""
    kx = (2**16 - 1) / (4095.0 - 0.0)
    ky = (2**16 - 1) / (1000.0 - 0.0)
    bx = (
        "CAST(LEAST(65535, GREATEST(0, "
        f"FLOOR((CAST(user_id AS DOUBLE) - 0.0) * {kx!r}))) AS BIGINT)"
    )
    by = (
        "CAST(LEAST(65535, GREATEST(0, "
        f"FLOOR((CAST(value AS DOUBLE) - 0.0) * {ky!r}))) AS BIGINT)"
    )
    terms = " | ".join(
        f"(((bx >> {i}) & 1) << {2 * i + 1}) | (((by >> {i}) & 1) << {2 * i})"
        for i in range(16)
    )
    return f"""
WITH b AS (SELECT event_id, {bx} AS bx, {by} AS by FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL)
SELECT event_id, CAST({terms} AS BIGINT) AS z
FROM b ORDER BY z, event_id LIMIT 100
"""


@register("zorder_key_events", _morton_oracle_sql())
def q_zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key computation over (user_id, value) — the
    clustering key behind `sinks/zorder.write_zordered`'s
    multi-dimensional data-skipping layout.  Pure shift/mask integer
    arithmetic inside codegen, bit-for-bit identical in DuckDB (the
    bucket scale constants are shared Python-float literals); top-100 by
    key is TakeOrdered.  The write-path test (tests/test_zorder.py)
    proves the layout actually tightens per-file min/max spans on BOTH
    dimensions.  NULL inputs are filtered before keying (both engines):
    a NULL dimension would make z NULL, and Spark sorts NULLs first
    while DuckDB sorts them last — the top-100 multisets would diverge
    on the first NULL row."""
    from mongo_analyser_spark.sinks.zorder import bucket16, morton_key

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    x = bucket16(F.col("user_id"), 0.0, 4095.0)
    y = bucket16(F.col("value"), 0.0, 1000.0)
    return (
        ev.select("event_id", morton_key(x, y).alias("z"))
        .orderBy("z", "event_id")
        .limit(100)
    )


@register(
    "distinct_kmv_events",
    """
WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events
               WHERE user_id IS NOT NULL),
hashed AS (SELECT event_type,
  CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT)
       AS DOUBLE) / 4503599627370496.0 AS h
  FROM pairs),
ranked AS (SELECT event_type, h,
  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hashed)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_exact,
  CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
       ELSE ROUND(63.0 / MAX(CASE WHEN rn = 64 THEN h END), 4) END AS kmv_estimate,
  CAST(64 AS BIGINT) AS k
FROM ranked GROUP BY event_type ORDER BY event_type
""",
)
def q_distinct_kmv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch tier with FULL oracle strength: per-event-type distinct
    users via the k-minimum-values estimator.  Where HLL is rows-only by
    design (engine-specific sketch internals), KMV's md5 + IEEE-double
    math is engine-agnostic, so the ESTIMATE hash-matches DuckDB —
    demonstrating a sketch whose accuracy contract (±1/sqrt(k-1)) is
    itself oracle-verifiable.  See operators/field_stats.distinct_kmv
    for the scale notes."""
    from mongo_analyser_spark.operators.field_stats import distinct_kmv

    ev = load_table(spark, sf_dir, "events")
    return distinct_kmv(ev, "event_type", "user_id", k=64)


# -- TPC-H partsupp-derived shapes (q2/q9/q11/q16/q20) ---------------------
# The testdata has no partsupp table; these five queries derive the
# part-supplier relationship from lineitem (distinct (l_partkey,
# l_suppkey) pairs; supply cost proxied by MIN(l_extendedprice)).  The
# JOIN/subquery structure each TPC-H query exists to exercise is kept
# intact — only the relation's provenance changes.

_PS_SQL = """
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2)
"""


def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: one shuffle on (partkey, suppkey); MIN is
    arithmetic-free so the decimal cost is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(_dec("l_extendedprice")).alias("ps_supplycost"))


@register(
    "q2_min_cost_supplier",
    "WITH "
    + _PS_SQL
    + """,
eu AS (
  SELECT p_partkey, p_brand, ps_supplycost, s_acctbal, s_name, n_name
  FROM part
  JOIN ps ON ps_partkey = p_partkey
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 30
    AND r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM eu e1
WHERE ps_supplycost = (SELECT MIN(ps_supplycost) FROM eu e2
                       WHERE e2.p_partkey = e1.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (reference has no relational tier; this is the
    [EXT] star-schema family): for each qualifying part, the European
    supplier(s) achieving the minimum supply cost.  The oracle keeps the
    textbook correlated-MIN subquery; the Spark plan decorrelates it as a
    MIN window over the SAME p_partkey partitioning the filtered join
    output already has — no second scan, no self-join, one extra
    window-shuffle over an already part-filtered (tiny) set.  nation and
    region are sf-invariant broadcasts; the part filter prunes before any
    join; supplier-side join is left to AQE (sf-proportional)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        _ps(spark, sf_dir)
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("p_partkey", "p_brand", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    min_cost = F.min("ps_supplycost").over(Window.partitionBy("p_partkey"))
    return (
        eu.withColumn("min_cost", min_cost)
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    """
SELECT n_name AS nation,
  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
       AS DOUBLE) AS profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def q_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: profit = discounted revenue — the
    supply-cost term needs partsupp's availqty pricing, which this
    dataset lacks): five-way snowflake join grouped by the SUPPLIER's
    nation and order year.  The p_name filter prunes lineitem through
    the part join first (the most selective edge); nation is an
    sf-invariant broadcast; orders/supplier joins are keyed and left to
    AQE.  Money math in decimal end-to-end, double only at the output
    boundary (house determinism rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_part_value",
    """
WITH psv AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_regionkey = 2
  GROUP BY 1)
SELECT partkey, CAST(value AS DOUBLE) AS value
FROM psv, (SELECT SUM(value) AS total FROM psv) t
WHERE value * 1000 > total
ORDER BY value DESC, partkey
""",
)
def q_q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: 'stock value' = lineitem revenue from
    suppliers of one region, since partsupp availqty doesn't exist):
    group-aggregate plus an uncorrelated scalar aggregate of ITSELF in
    the HAVING position.  The per-part aggregate is computed once and
    reused for both sides — Spark caches nothing here, but the reuse is
    structural: the scalar total is a one-row broadcast crossJoin, so the
    big input is scanned and shuffled exactly once per side of a
    self-referencing plan Catalyst can't CSE; at 100 TB you'd persist
    psv.  Threshold is integer-decimal algebra (value > total/1000 ⇔
    value*1000 > total) — no double division at the boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    psv = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_dec("l_extendedprice")).alias("value"))
    )
    total = psv.agg(F.sum("value").alias("total"))
    return (
        psv.crossJoin(F.broadcast(total))
        .filter(F.col("value") * 1000 > F.col("total"))
        .select("partkey", F.col("value").cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


@register(
    "q16_supplier_relationship",
    """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs JOIN part ON p_partkey = l_partkey
WHERE p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q_q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier 'complaints' proxied by
    negative account balance — no comment column in this dataset):
    distinct part-supplier pairs, an exclusion NOT-EXISTS decorrelated
    to a left-anti join, then a count-distinct rollup per part attribute
    triple.  The anti side (negative-balance suppliers) is tiny and
    broadcast; the part filter prunes before the join; the distinct-pair
    dedup and the final count-distinct are the two unavoidable shuffles,
    both on skinny key-only rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 4, 9, 16, 25, 36, 49])
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_share_suppliers",
    """
WITH qty AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
    AND l_shipdate < TIMESTAMP '2000-01-01'
  GROUP BY 1, 2),
tot AS (SELECT l_partkey AS pk, SUM(supp_qty) AS part_qty
        FROM qty GROUP BY 1)
SELECT s_name, n_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM qty
  JOIN tot ON pk = l_partkey
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%' AND supp_qty * 2 > part_qty)
ORDER BY s_name
""",
)
def q_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: 'excess availability' = shipped more
    than half of a small-part's 1999 volume — availqty lives in the
    missing partsupp): a two-level nested IN decorrelated to a left-semi
    join chain.  qty aggregates once on (partkey, suppkey); tot re-aggs
    the ALREADY-AGGREGATED skinny output on partkey (second shuffle is
    over per-pair rows, not lineitem); the tot join-back is keyed on the
    same partkey so AQE co-locates it; part's name filter semi-prunes
    before the threshold test, and the final supplier⋈nation join sees
    only qualifying suppkeys via the semi join.  Threshold is decimal
    algebra (share > 1/2 ⇔ supp_qty*2 > part_qty)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("supp_qty")
    )
    tot = qty.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    excess = (
        qty.join(tot, F.col("pk") == F.col("l_partkey"))
        .join(part.select("p_partkey"), F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
    )
    return (
        supp.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "time_rollup_events",
    """
SELECT
  CASE WHEN GROUPING(CAST(ts AS DATE)) = 0
       THEN strftime(CAST(ts AS DATE), '%Y-%m-%d') END AS day,
  CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
       THEN strftime(date_trunc('hour', ts), '%H') END AS hour,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (CAST(ts AS DATE), date_trunc('hour', ts)),
  (CAST(ts AS DATE)),
  ())
ORDER BY day NULLS FIRST, hour NULLS FIRST
""",
)
def q_time_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the SAME scan feeds
    hourly, daily, and grand-total grains via time-dimension GROUPING
    SETS — one shuffle for all granularities (Spark plans an Expand +
    single hash aggregate), where naive per-grain queries would scan the
    fact table once per grain. The streaming twin of the hourly grain is
    tumbling_hourly_events."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT
          CASE WHEN grouping(to_date(ts)) = 0
               THEN date_format(to_date(ts), 'yyyy-MM-dd') END AS day,
          CASE WHEN grouping(date_trunc('hour', ts)) = 0
               THEN date_format(date_trunc('hour', ts), 'HH') END AS hour,
          count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
          (to_date(ts), date_trunc('hour', ts)),
          (to_date(ts)),
          ())
        ORDER BY day NULLS FIRST, hour NULLS FIRST
        """
    )


@register(
    "salted_user_event_totals",
    """
SELECT user_id, c_name,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY user_id, c_name
ORDER BY user_id
""",
)
def q_salted_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join end-to-end (operators/relational.salted_join):
    events.user_id has only ~15 distinct values — exactly the hot-key
    pileup that stalls one reducer at 100 TB — so the fact side is salted
    across 16 buckets and the (small, non-broadcastable-by-assumption)
    customer side is replicated per bucket. The oracle is the PLAIN join:
    salting is an execution strategy, result-identical by construction."""
    from mongo_analyser_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    return (
        salted_join(ev, cust, "user_id", buckets=16)
        .groupBy("user_id", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "q12_priority_by_status",
    """
SELECT l_linestatus,
  CAST(count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
  CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'N'
GROUP BY l_linestatus ORDER BY l_linestatus
""",
)
def q_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⋈fact join + conditional aggregation
    (count FILTER). orders⋈lineitem shuffles on the join key once; the
    conditional counts are map-side partial aggregates."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "N")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "trailing_window_range_events",
    """
SELECT event_id, user_id,
  CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
  ROUND(SUM(value) OVER w, 2) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
)
def q_trailing_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (SURVEY W4, the frame spec rows-frames can't
    express): per user, count + value sum over the trailing hour of
    EVENT TIME — the frame is value-based (microseconds), so sparse and
    dense users get the same time horizon. One shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
    )


@register(
    "grouping_sets_orders",
    """
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
  CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY A12 — the general form of
    rollup/cube, both also registered): detail, per-status subtotal, and
    grand total in ONE pass — Spark's Expand operator replicates each row
    per set before a single aggregation shuffle, instead of three jobs."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
          count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY g_status, g_priority,
                 o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


@register(
    "observed_type_histogram_events",
    """
WITH mixed AS (
  SELECT event_id,
    CASE event_id % 4
      WHEN 0 THEN props->>'$.k'
      WHEN 1 THEN '"' || event_type || '"'
      WHEN 2 THEN '[' || (props->>'$.k') || ',' || (props->>'$.k') || ']'
      ELSE 'null' END AS v
  FROM events)
SELECT CASE json_type(v::JSON)
         WHEN 'UBIGINT' THEN 'int32' WHEN 'BIGINT' THEN 'int32'
         WHEN 'VARCHAR' THEN 'str' WHEN 'ARRAY' THEN 'array<int32>'
         WHEN 'NULL' THEN 'null' ELSE 'unknown' END AS type_label,
       CAST(count(*) AS BIGINT) AS n
FROM mixed GROUP BY 1 ORDER BY 1
""",
)
def q_observed_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT observed-type histogram over a genuinely mixed-type
    JSON value — the reference's core dynamic-schema capability (A4 type
    Counter, analyser.py:51,192): the same path holds an int in some
    documents, a string/array/null in others. Implemented with Spark 4
    VariantType (`parse_json` + `schema_of_variant`) so typing happens
    engine-side per row — no Python, no sampled schema. The mixed value
    is derived deterministically from events so both engines see
    identical data."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", EVENTS_PROPS_SCHEMA).getField("k").cast("string")
    mixed = ev.select(
        F.when(F.col("event_id") % 4 == 0, k)
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(F.lit('"'), F.col("event_type"), F.lit('"')),
        )
        .when(F.col("event_id") % 4 == 2, F.concat(F.lit("["), k, F.lit(","), k, F.lit("]")))
        .otherwise(F.lit("null"))
        .alias("v")
    )
    spark_label = F.schema_of_variant(F.parse_json("v"))
    label = (
        F.when(spark_label == "BIGINT", "int32")
        .when(spark_label == "STRING", "str")
        .when(spark_label.startswith("ARRAY"), "array<int32>")
        .when(spark_label == "VOID", "null")
        .otherwise("unknown")
    )
    return (
        mixed.select(label.alias("type_label"))
        .groupBy("type_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("type_label")
    )


@register(
    "dynamic_schema_histogram_events",
    """
WITH expected AS (
  SELECT 'k' AS path, 'int32' AS type_tag,
         CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n FROM events
  UNION ALL
  SELECT 'k', 'str', CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) FROM events
  UNION ALL SELECT 'n', 'dict', CAST(count(*) AS BIGINT) FROM events
  UNION ALL SELECT 'n.u', 'int32', CAST(count(*) AS BIGINT) FROM events
  UNION ALL SELECT 't', 'str', CAST(count(*) AS BIGINT) FROM events
)
SELECT * FROM expected WHERE n > 0 ORDER BY path, type_tag
""",
)
def q_dynamic_schema_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over JSON documents with NO predeclared schema
    (operators/melt_variant.py — parse_json + iterated variant_explode,
    all engine-side): dotted paths and per-document observed types,
    including a path whose type differs across documents. The documents
    are derived deterministically from events so the oracle can state the
    expected histogram from first principles."""
    from mongo_analyser_spark.operators.melt_variant import melt_variant

    ev = load_table(spark, sf_dir, "events")
    k_json = F.from_json("props", EVENTS_PROPS_SCHEMA).getField("k").cast("string")
    doc = F.concat(
        F.lit('{"t":"'), F.col("event_type"), F.lit('","k":'),
        F.when(F.col("event_id") % 2 == 0, k_json).otherwise(
            F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))
        ),
        F.lit(',"n":{"u":'), F.col("user_id").cast("string"), F.lit("}}"),
    )
    docs = ev.select(doc.alias("doc"))
    return (
        # explicit depth (r15): these docs are BUILT from a literal
        # template right above — depth 2 by construction at every sf —
        # so the exact level stack is known without the adaptive probe
        # jobs (the terminating probe alone full-scanned the corpus;
        # same-session A/B 2.13 -> 1.17 s, rows identical). Runtime
        # depth DISCOVERY stays exercised by the deep_melt rows.
        melt_variant(docs, "doc", max_depth=2, adaptive=False)
        .groupBy("path", "type_tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("path", "type_tag")
    )


@register(
    "schema_drift_events",
    """
WITH c AS (
  SELECT CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n0,
         CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) AS n1
  FROM events)
SELECT * FROM (
  SELECT 'extra' AS path, 'bool' AS type_tag, CAST(0 AS BIGINT) AS n_old,
         n1 AS n_new, 'added' AS status FROM c
  UNION ALL SELECT 'k', 'int32', n0, CAST(0 AS BIGINT), 'removed' FROM c
  UNION ALL SELECT 'k', 'str', CAST(0 AS BIGINT), n1, 'added' FROM c
  UNION ALL SELECT 'n', 'dict', n0, CAST(0 AS BIGINT), 'removed' FROM c
  UNION ALL SELECT 'n.u', 'int32', n0, CAST(0 AS BIGINT), 'removed' FROM c
  UNION ALL SELECT 't', 'str', n0, n1, 'stable' FROM c
) ORDER BY path, type_tag
""",
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DRIFT detection between two corpus eras — the monitoring
    capability the reference's one-shot inference implies but never
    ships (analyser.py infers once; a production analyser wants "what
    changed since yesterday"): per-(path, observed-type) histograms of
    each era (melt_variant, all engine-side), full-outer joined into an
    added / removed / stable report with per-era counts. Era documents
    are derived deterministically from events (the
    dynamic_schema_histogram trick) so the oracle can state the
    expected drift from first principles: the new era renames k's type
    int32→str, drops the nested n.u struct, and adds a bool field.
    100-TB shape: two melt scans + one tiny (paths × types) join."""
    from mongo_analyser_spark.operators.melt_variant import melt_variant

    ev = load_table(spark, sf_dir, "events")
    k_json = (
        F.from_json("props", EVENTS_PROPS_SCHEMA).getField("k").cast("string")
    )
    old_doc = F.concat(
        # concat is null-propagating: a props JSON without 'k' must
        # degrade to a JSON null field, not silently drop the whole doc
        # (which would shrink n0 under the hand-derived oracle counts)
        F.lit('{"t":"'), F.col("event_type"), F.lit('","k":'),
        F.coalesce(k_json, F.lit("null")),
        F.lit(',"n":{"u":'), F.col("user_id").cast("string"), F.lit("}}"),
    )
    new_doc = F.concat(
        F.lit('{"t":"'), F.col("event_type"), F.lit('","k":"'),
        F.col("event_type"), F.lit('","extra":true}'),
    )
    old = ev.filter(F.col("event_id") % 2 == 0).select(old_doc.alias("doc"))
    new = ev.filter(F.col("event_id") % 2 == 1).select(new_doc.alias("doc"))
    # explicit depths (r15): both eras are built from literal templates
    # above — old nests {"n":{"u"}} (depth 2), new is flat (depth 1) at
    # every sf — so the probe jobs the adaptive mode would run (a full
    # corpus scan per era at the terminating level) carry no
    # information; same-session A/B 1.97 -> 1.23 s, rows identical
    ha = (
        melt_variant(old, "doc", max_depth=2, adaptive=False)
        .groupBy("path", "type_tag")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    hb = (
        melt_variant(new, "doc", max_depth=1, adaptive=False)
        .groupBy("path", "type_tag")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    j = ha.join(hb, ["path", "type_tag"], "full_outer")
    status = (
        F.when(F.col("n_old").isNull(), "added")
        .when(F.col("n_new").isNull(), "removed")
        .otherwise("stable")
    )
    return j.select(
        "path",
        "type_tag",
        F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        status.alias("status"),
    ).orderBy("path", "type_tag")


_SCALAR_SUBQUERY_SQL = """
SELECT c_custkey, c_name,
  ROUND(c_acctbal, 2) AS acctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
"""


@register("scalar_subquery_customers", _SCALAR_SUBQUERY_SQL)
def q_scalar_subquery_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (the other decorrelation shape next to
    q4's EXISTS): customers above their nation's average balance.
    Catalyst rewrites it to per-nation aggregates + joins — one pass over
    customer, no per-row subquery.

    'Above average' is evaluated division-free: acctbal × n > Σ acctbal in
    exact DECIMAL arithmetic, identical in both engines — an AVG-based
    predicate on doubles could flip for a customer within 1 ulp of the
    nation mean (this file's determinism rules)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SCALAR_SUBQUERY_SQL)


_DOCS_MELT_SQL = """
WITH melt AS (
  SELECT 'doc_id' AS field, doc_id IS NOT NULL AS present,
         CAST(doc_id AS VARCHAR) AS v_str, CAST(doc_id AS DOUBLE) AS v_num FROM documents
  UNION ALL
  SELECT 'text', text IS NOT NULL, text, NULL FROM documents
  UNION ALL
  SELECT 'lang', lang IS NOT NULL, lang, NULL FROM documents
  UNION ALL
  SELECT 'source', source IS NOT NULL, source, NULL FROM documents
  UNION ALL
  SELECT 'n_chars', n_chars IS NOT NULL, CAST(n_chars AS VARCHAR),
         CAST(n_chars AS DOUBLE) FROM documents
)
"""


@register(
    "schema_with_stats_documents",
    _DOCS_MELT_SQL
    + """, stats AS (
  SELECT field,
    CAST(count(*) FILTER (WHERE present) AS BIGINT) AS cnt,
    ROUND((count(*) - count(*) FILTER (WHERE present)) * 100.0 / count(*), 4) AS missing_pct,
    CAST(count(DISTINCT v_str) AS BIGINT) AS distinct_cnt,
    MIN(v_num) AS min_num, MAX(v_num) AS max_num
  FROM melt GROUP BY field
), sch AS (
  SELECT column_name AS field,
    CASE data_type WHEN 'BIGINT' THEN 'int64' WHEN 'INTEGER' THEN 'int32'
      WHEN 'VARCHAR' THEN 'str' WHEN 'DOUBLE' THEN 'double'
      WHEN 'BOOLEAN' THEN 'bool' WHEN 'TIMESTAMP' THEN 'datetime' END AS type
  FROM information_schema.columns WHERE table_name = 'documents'
)
SELECT sch.field, sch.type, s.cnt, s.missing_pct, s.distinct_cnt, s.min_num, s.max_num
FROM sch JOIN stats s USING (field) ORDER BY field
""",
)
def q_schema_with_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J1 — the reference correlates the schema dict with the
    stats dict by field path (views/schema_analysis_view.py:385-410, a
    driver-side hash lookup). The schema artifact is pure metadata
    (Engine.infer_schema walks df.schema, no job), so it rides into the
    stats aggregate as a literal map lookup — ONE job, no join stage, no
    second DataFrame (round-1 bench flagged the join form 3.9× baseline)."""
    from mongo_analyser_spark.engine import Engine

    docs = load_table(spark, sf_dir, "documents")
    schema = Engine(spark).infer_schema(docs)
    type_map = F.create_map(
        *[F.lit(x) for kv in schema.items() for x in (kv[0], kv[1]["type"])]
    )
    return (
        field_stats(docs)
        .drop("min_ts", "max_ts")
        .select(
            "field",
            F.element_at(type_map, F.col("field")).alias("type"),
            "cnt", "missing_pct", "distinct_cnt", "min_num", "max_num",
        )
        .orderBy("field")
    )


# The external harness oracle-checks the first 50 registry entries in
# order, so the registry order is a contract: WINDOW_QUERIES is that
# window (one representative per query family), TAIL_QUERIES the rest.
WINDOW_QUERIES = (
    "field_stats_events",
    "type_histogram_events",
    "top_values_events",
    "array_stats_embeddings",
    "sample_events_deterministic",
    "list_collections",
    "describe_collection_events",
    "convert_export_events",
    "q1_pricing_summary",
    "kmeans_step_embeddings",
    "join_range_part_lineitem",
    "schema_documents",
    "q2_min_cost_supplier",
    "wav_audio_features_documents",
    "mg_heavy_hitters_events",
    "quantile_sketch_report_events",
    "theta_overlap_pairs_documents",
    "triangle_count_near_dup",
    "countmin_user_counts_events",
    "bloom_decontaminate_documents",
    "kneser_ney_nll_documents",
    "char_entropy_documents",
    "flac_audio_features_documents",
    "webp_lossless_pixels_documents",
    "g711_audio_features_documents",
    "jpeg12_pixel_stats_documents",
    "avi_mjpeg_frames_documents",
    "mp4_jpeg_frames_documents",
    "tfidf_cosine_pairs_documents",
    "pq_adc_rerank_topk_embeddings",
    "embedding_covariance_upper",
    "dedup_minhash_pairs_documents",
    "tumbling_hourly_events",
    "dedup_first_event_per_user_type",
    "remove_repeated_spans_documents",
    "scd2_event_type_events",
    "ewma_smooth_events",
    "ivfpq_topk_embeddings",
    "minhash_estimate_error_pairs",
    "frame_pixel_stats_documents",
    "pca_project_embeddings",
    "scd2_pit_join_events",
    "chunk_tokens_documents",
    "similarity_topk_embeddings_arrow",
    "wav_pcm24_features_documents",
    "deep_melt_documents",
    "adpcm_audio_features_documents",
    "deep_melt_arrow_documents",
    "mp1_subband_features_documents",
    "jpeg12p_pixel_stats_documents",
)

TAIL_QUERIES = (
    "pca_project_wide_embeddings",
    "ivfpq_wide_topk_embeddings",
    "jpeg12s_pixel_stats_documents",
    "tiff_pixel_stats_documents",
    "html_extract_documents",
    "warc_extract_documents",
    "au_audio_features_documents",
    "media_header_matrix_documents",
    "ico_pixel_stats_documents",
    "aiff_audio_features_documents",
    "id3_metadata_documents",
    "exif_metadata_documents",
    "webdataset_samples_documents",
    "pnm_pixel_stats_documents",
    "web_corpus_build_documents",
    "sitemap_urls_documents",
    "charset_decode_documents",
    "robots_policy_documents",
    "url_canonical_documents",
    "y4m_frame_pixels_documents",
    "wav_frame_features_documents",
    "wav_multichannel_features_documents",
    "gif_frame_pixels_documents",
    "remove_repeated_ngrams_documents",
    "multimodal_metadata_documents",
    "q21_waiting_suppliers",
    "trailing_window_range_events",
    "decontaminate_exact_ngram_documents",
    "gopher_rules_documents",
    "embedding_dedup_clusters",
    "quantile_sketch_by_type_events",
    "theta_difference_pairs_documents",
    "schema_drift_events",
    "q3_shipping_priority",
    "asof_join_events_signup",
    "window_top3_orders_per_customer",
    "dedup_exact_documents",
    "embedding_near_dup_pairs",
    "ann_srp_topk_embeddings",
    "bm25_topk_documents",
    "unigram_nll_documents",
    "distinct_kmv_events",
    "grouping_sets_orders",
    "setops_nation_coverage",
    "value_percentiles_events",
    "token_budget_select_bpe_documents",
    "jl_project_embeddings",
    "semantic_dedup_embeddings",
    "decontaminate_documents",
    "simhash_documents",
    "session_window_users",
    "late_data_drop_events",
    "join_semi_customers_with_orders",
    "binary_conversion_documents",
    "bytes_human_documents",
    "newest_n_events",
    "display_truncation_documents",
    "lang_histogram_documents",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "join_anti_customers_without_orders",
    "user_totals_events",
    "rollup_orders_priority_status",
    "cube_lineitem_flags",
    "observed_type_histogram_events",
    "lang_detect_documents",
    "dedup_vocab_documents",
    "minhash_signatures_documents",
    "q12_priority_by_status",
    "window_user_running_value",
    "distinct_event_types",
    "q4_priority_with_returns",
    "dedup_jaccard_pairs_documents",
    "sliding_window_events",
    "ann_ivf_topk_embeddings",
    "ann_ivf_adaptive_topk_embeddings",
    "dedup_clusters_documents",
    "stratified_sample_documents",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q7_nation_volume_shipping",
    "q15_top_supplier",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q22_inactive_customers",
    "q9_product_type_profit",
    "q11_important_part_value",
    "q16_supplier_relationship",
    "q20_excess_share_suppliers",
    "corpus_build_documents",
    "simhash_pairs_documents",
    "field_stats_events_hll",
    "value_percentiles_events_approx",
    "dataset_split_documents",
    "pii_scrub_documents",
    "numeric_profile_documents",
    "repetition_stats_documents",
    "ngram_topk_corpus",
    "quality_deciles_documents",
    "quality_deciles_documents_approx",
    "interval_join_events",
    "mixture_sample_documents",
    "token_budget_select_documents",
    "dedup_report_by_source",
    "ann_recall_report",
    "pagerank_near_dup",
    "bpe_encode_documents",
    "pack_sequences_bpe_documents",
    "bigram_nll_documents",
    "nb_quality_scores_documents",
    "curation_decisions_documents",
    "pixel_roundtrip_documents",
    "jpeg_pixel_stats_documents",
    "dsir_select_documents",
    "dhash_documents",
    "pivot_event_counts_by_user",
    "quantize_embeddings_int8",
    "chunk_documents",
    "scalar_subquery_customers",
    "ann_ivf_recall_report",
    "funnel_conversion_events",
    "retention_cohorts_events",
    "zorder_key_events",
    "tfidf_topk_terms_documents",
    "tfidf_pairs_recall_report",
    "pq_encode_embeddings",
    "pq_recall_report_embeddings",
    "schema_with_stats_documents",
    "text_stats_documents",
    "fingerprint_documents",
    "time_rollup_events",
    "countmin_sketch_events",
    "dsir_weights_documents",
    "dhash_pairs_documents",
    "pii_scrub_extended_documents",
    "bpe_token_counts_pretok_documents",
    "gumbel_weighted_sample_documents",
    "quantile_sketch_events",
    "theta_sketch_sources_documents",
    "zscore_outliers_events",
    "frame_sample_documents",
    "ivfpq_recall_report_embeddings",
    "wav_resample_features_documents",
    "similarity_topk_embeddings",
    "pack_sequences_documents",
    "bpe_token_counts_documents",
    "salted_user_event_totals",
    "dynamic_schema_histogram_events",
)


def curate_tail() -> None:
    """Reorder the registry to the canonical WINDOW_QUERIES + TAIL_QUERIES
    order. Guarded and idempotent so each registering module can call it
    at import bottom: whichever module finishes importing LAST re-runs the
    full reorder with every name present, making the final registry order
    identical no matter which module a caller imports first (queries,
    queries_pipeline, or queries_streaming). Names not yet in either list
    (a new query before curation) are pushed BEHIND the tail so nothing
    enters the driver's first-50 window implicitly;
    tests/test_registry.py rejects them so every addition is placed
    deliberately."""
    listed = [n for n in WINDOW_QUERIES + TAIL_QUERIES if n in QUERIES]
    unlisted = [n for n in QUERIES if n not in set(listed)]
    for _name in listed + unlisted:
        QUERIES[_name] = QUERIES.pop(_name)


# pipeline [EXT] registrations (dedup / similarity / text / multimodal) —
# imported last so they append to the same registry; each calls
# curate_tail() at its own bottom for import-order robustness
from mongo_analyser_spark import queries_pipeline  # noqa: E402,F401
from mongo_analyser_spark import queries_streaming  # noqa: E402,F401

curate_tail()
