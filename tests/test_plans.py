"""Physical-plan audits: the scale contract, asserted.

Correct results with a wrong plan don't survive a 100× scale-up — these
tests pin the plan properties that matter at 100 TB: predicate pushdown to
the parquet reader, column pruning, partition pruning before task launch,
broadcast joins for dims, per-partition heaps for top-k, and partial
(map-side) aggregation.
"""

from __future__ import annotations

import pytest
from conftest import AT_SCALE

from fineventstream_spark.registry import all_queries

REGISTRY = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_parquet")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300], "shipdate filter not pushed"
    # column pruning: the scan schema must not include unused columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_returnflag" not in read_schema, "scan reads columns the query never uses"


def test_ntz_normalization_keeps_pushdown(spark, sf_dir):
    """The catalog's TIMESTAMP_NTZ→TIMESTAMP cast must not cost pushdown:
    Catalyst unwraps the cast in binary comparisons, so a filter written
    against the normalized (TIMESTAMP) column still reaches the parquet
    reader as an NTZ-typed PushedFilter. If this breaks, every time-range
    query at 100 TB full-scans the fact table."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    q = ev.filter(F.col("ts") >= F.lit("2024-06-01").cast("timestamp")).select(
        "event_id", "ts"
    )
    plan = spark._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "GreaterThanOrEqual(ts" in pushed, f"ts range filter not pushed: {pushed}"


def test_partition_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_partition_prune")
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "day" in pf, f"day filter did not reach partition pruning: {pf}"


def test_dim_enrichment_colocated_projection(spark, sf_dir):
    """q_join_broadcast (r8 rewrite): the partkey covering projection joins
    partkey-bucketed part as a zero-exchange, zero-sort, zero-build SMJ —
    no BroadcastExchange (the r7-flagged forced broadcast of an sf-growing
    dim is gone), no fact shuffle; the only exchange is the 25-row agg."""
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "SortMergeJoin" in plan, "dim enrichment lost the co-located SMJ"
    assert "BroadcastExchange" not in plan, "sf-growing dim must not be broadcast"
    assert plan.count("Bucketed: true") >= 2, "both sides must read bucketed layouts"
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"fact-side shuffle came back ({n} exchanges):\n{plan}"
    # trusted per-bucket sort: the SMJ must not re-sort either side
    assert "+- Sort " not in plan and "* Sort " not in plan, "SMJ re-sorts bucketed input"


def test_bm25_explode_filters_early_and_topk_no_sort(spark, sf_dir):
    """q_llm_bm25 (r8): the query-term filter sits directly above the
    token explode (rows surviving ≈ |terms|·docs, never corpus tokens),
    and the top-20 is TakeOrderedAndProject — no global sort."""
    plan = _plan(spark, sf_dir, "q_llm_bm25")
    assert "TakeOrderedAndProject" in plan, "top-20 must use partial heaps"
    assert "rangepartitioning" not in plan, "top-20 must not globally sort"
    # a Filter node must appear immediately above each Generate (explode)
    lines = [l.strip() for l in plan.splitlines() if "(" in l]
    gen_idx = [i for i, l in enumerate(lines) if "Generate (" in l]
    assert gen_idx, f"no Generate in plan:\n{plan}"
    for i in gen_idx:
        # guard i == 0: lines[-1] would silently check the wrong node (r8 advisor)
        assert i > 0, f"Generate is the first plan node — nothing above it:\n{plan}"
        assert "Filter (" in lines[i - 1], (
            f"term filter not fused above the explode:\n{plan}"
        )


def test_maybe_broadcast_guards_on_scan_size(spark, sf_dir, monkeypatch):
    """The general dim-join rule (sizing.py): hint only what is knowably
    small. Small file scan → hinted; threshold 0 → never; in-memory
    relation (size unknowable) → never (AQE decides)."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables
    from fineventstream_spark.operators import sizing
    from fineventstream_spark.operators.sizing import maybe_broadcast, scan_input_bytes

    t = Tables(spark, sf_dir)
    nb = scan_input_bytes(t.nation)
    assert nb is not None and nb > 0
    hinted = t.orders.join(
        maybe_broadcast(t.nation), F.col("o_custkey") % 25 == F.col("n_nationkey")
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        hinted._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # in-memory relation: size unknowable → unhinted
    mem = spark.range(5)
    assert scan_input_bytes(mem) is None
    assert maybe_broadcast(mem) is mem
    # over-threshold scan stays unhinted
    monkeypatch.setattr(sizing, "BROADCAST_MAX_INPUT_BYTES", 1)
    assert maybe_broadcast(t.orders) is t.orders
    # threshold 0 disables hinting entirely
    monkeypatch.setattr(sizing, "BROADCAST_MAX_INPUT_BYTES", 0)
    assert maybe_broadcast(t.nation) is t.nation


def test_range_join_broadcasts_small_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_range")
    assert "BroadcastNestedLoopJoin" in plan, "theta join must broadcast the band table"


def test_topk_uses_partial_heaps(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_limit_topk")
    assert "TakeOrderedAndProject" in plan, "LIMIT+ORDER BY should not global-sort"


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_groupby_basic")
    # two HashAggregate nodes (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2, "no map-side partial aggregation"
    assert "Exchange" in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # AQE finalizes the physical plan at execution; run the query first,
    # then check the executed plan for "*(n)" codegen stage markers
    df = REGISTRY["q_agg_groupby_basic"].fn(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "*(" in plan, f"hot path fell out of whole-stage codegen: {plan}"


def test_asof_join_is_single_shuffle_no_explosion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_asof")
    # union+window formulation: no nested-loop / cartesian anywhere
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Window" in plan


@pytest.mark.parametrize("name", ["q_filter_notnull", "q_project_rename"])
def test_narrow_transforms_have_no_shuffle(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan, f"{name} should be shuffle-free"


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketed co-located join: both sides pre-bucketed on the key →
    SortMergeJoin with ZERO Exchange (the 100 TB fact-join pattern)."""
    from fineventstream_spark.operators.bucketed import bucketed_join_lineitem_orders

    df = bucketed_join_lineitem_orders(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert df.count() > 0


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    """EXISTS must become one LEFT SEMI join — not a per-row subquery,
    not an inner join + dedup (row explosion)."""
    plan = _plan(spark, sf_dir, "q_report_order_priority")
    assert "LeftSemi" in plan, f"EXISTS did not compile to a semi join:\n{plan}"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q10_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_report_returned_items")
    assert "TakeOrderedAndProject" in plan, "top-20 report should not global-sort"


def _shuffle_exchanges(plan: str) -> int:
    """Count shuffle Exchange nodes in a formatted explain (each node has
    exactly one ``(n) Exchange`` details header; broadcasts don't match)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_q5_broadcasts_dim_chain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_report_nation_volume")
    assert "BroadcastHashJoin" in plan
    # date range must reach the (bucketed) orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, "date filter not pushed to scan"


def test_q5_fact_never_shuffles(spark, sf_dir):
    """Q5 on the bucketed layout: lineitem and orders join bucket-co-located
    (subset co-partitioning on orderkey); customer/supplier/nation/region
    ride broadcasts. The ONLY shuffle is the 25-row final aggregate."""
    plan = _plan(spark, sf_dir, "q_report_nation_volume")
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"Q5 fact-side shuffle came back ({n} exchanges):\n{plan}"
    assert "Bucketed: true" in plan, "Q5 is not reading the bucketed derivative"
    # the (c_nationkey - s_nationkey) = 0 nation equality must survive as a
    # RESIDUAL merge condition (a Subtract in the plan), never normalized
    # into an equi-key: ExtractEquiJoinKeys folding it would widen the SMJ
    # keys to (orderkey, nationkey) and re-introduce the fact exchange.
    # If a Spark upgrade starts folding arithmetic equalities, this line
    # points at the optimizer fold directly (r7 advisor).
    import re

    assert re.search(
        r"Join condition: \(\(c_nationkey#\d+ - s_nationkey#\d+\) = 0\)", plan
    ), f"nation-equality residual was normalized away:\n{plan}"


def test_q3_join_inner_zero_shuffle(spark, sf_dir):
    """q_join_inner on the bucketed layout: the orders⋈lineitem SMJ is
    bucket-co-located and the groupBy key contains the bucket key —
    ZERO shuffle exchanges end to end."""
    plan = _plan(spark, sf_dir, "q_join_inner")
    n = _shuffle_exchanges(plan)
    assert n == 0, f"q_join_inner shuffles ({n} exchanges):\n{plan}"
    assert "Bucketed: true" in plan


def test_shipping_priority_zero_shuffle(spark, sf_dir):
    """TPC-H Q3 (r7 bucketed rewrite): broadcast customer semi-gate +
    bucket-co-located orders⋈lineitem + distribution-reusing aggregate +
    TakeOrderedAndProject top-10 — ZERO shuffle exchanges, no global
    sort."""
    plan = _plan(spark, sf_dir, "q_report_shipping_priority")
    n = _shuffle_exchanges(plan)
    assert n == 0, f"q_report_shipping_priority shuffles ({n}):\n{plan}"
    assert "Bucketed: true" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan, "top-10 must not globally sort"


def test_ship_priority_split_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q12 (r10 bucketed rewrite — the skewed sweep named the old
    shuffle form the report family's worst Spark offender): the
    lineitem⋈orders join is a bucket-co-located SMJ with zero fact
    exchange; the only shuffles left carry the 3-group partial aggregate
    and the 3-row output sort — both KB-scale."""
    plan = _plan(spark, sf_dir, "q_report_ship_priority_split")
    n = _shuffle_exchanges(plan)
    assert n <= 2, f"q_report_ship_priority_split shuffles ({n}):\n{plan}"
    assert "Bucketed: true" in plan


def test_order_priority_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q4 (r7 bucketed rewrite): the orderkey semi-join is
    bucket-co-located (the l_shipdate > o_orderdate inequality stays a
    residual condition — it cannot widen the equi-keys), so the ONLY
    exchange is the 5-group partial-aggregated count."""
    plan = _plan(spark, sf_dir, "q_report_order_priority")
    n = _shuffle_exchanges(plan)
    assert n == 1, f"q_report_order_priority should shuffle once ({n}):\n{plan}"
    assert "Bucketed: true" in plan
    assert "LeftSemi" in plan


def test_heavy_hitters_candidate_broadcast_shape(spark, sf_dir, monkeypatch):
    """q_event_heavy_hitters is SIZE-SELECTED since r13: at lint scale
    the scan routes to the plain exact groupBy (no Python pass). Forcing
    the large-scan route (threshold 0) must produce the MG shape:
    a shuffle-free MapInPandas candidate pass whose candidate set
    BROADCASTS into the exact verify — every shuffle exchange
    candidate- or scalar-sized, never domain-sized."""
    from fineventstream_spark.operators import frequent

    plan = _plan(spark, sf_dir, "q_event_heavy_hitters")
    assert "MapInPandas" not in plan, "small scan must take the exact route"

    monkeypatch.setattr(frequent, "PHI_EXACT_MAX_INPUT_BYTES", 0)
    plan = _plan(spark, sf_dir, "q_event_heavy_hitters")
    assert "MapInPandas" in plan, "candidate pass missing on the MG route"
    assert "BroadcastHashJoin" in plan, "candidates must broadcast into the verify"
    # candidate distinct + candidate-bounded count + scalar total only
    n = _shuffle_exchanges(plan)
    assert n <= 3, f"unexpected exchanges ({n}):\n{plan}"


def test_pack_sequences_prefix_sum_is_distributed(spark, sf_dir):
    """The cumulative sum must be range-bucketed: the only unpartitioned
    window may be over the tiny per-bucket offsets frame (≤ n_buckets
    rows), never over the full document table."""
    from pyspark.sql import functions as F

    from fineventstream_spark.catalog import Tables

    plan = _plan(spark, sf_dir, "q_llm_pack_sequences")
    # full-table window is partitioned by the bucket column
    assert "__b" in plan, plan
    df = REGISTRY["q_llm_pack_sequences"].fn(spark, sf_dir)
    total_docs = df.agg(F.sum("n_docs")).collect()[0][0]
    assert total_docs == Tables(spark, sf_dir).documents.count()


def test_event_analytics_single_fact_no_fact_shuffle(spark, sf_dir):
    """Outlier flagging joins 5-row broadcast moments onto the fact: the
    fact table itself must not shuffle (no Exchange hashpartitioning on
    the fact side; the only exchanges are the tiny aggregate's)."""
    plan = _plan(spark, sf_dir, "q_event_outliers")
    assert "BroadcastHashJoin" in plan, "moments join must broadcast"
    assert "SortMergeJoin" not in plan


def test_q1_pricing_summary_partial_agg_and_pushdown(spark, sf_dir):
    """TPC-H Q1: map-side partial agg before one tiny shuffle; the date
    bound and 7-column projection must reach the parquet scan."""
    plan = _plan(spark, sf_dir, "q_report_pricing_summary")
    assert plan.count("HashAggregate") >= 2, "no map-side partial aggregation"
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate bound not pushed"
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "l_partkey" not in read_schema, "scan reads columns Q1 never uses"


def test_q6_forecast_pushes_all_range_predicates(spark, sf_dir):
    """TPC-H Q6: every conjunct is a pushable primitive range — all four
    bounds must appear in PushedFilters (row-group skipping at scale)."""
    plan = _plan(spark, sf_dir, "q_report_forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:600]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} range not pushed to the scan:\n{pushed}"


def test_q3_shipping_priority_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_report_shipping_priority")
    assert "TakeOrderedAndProject" in plan, "top-10 report should not global-sort"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q18_having_subquery_is_semi_join(spark, sf_dir):
    """TPC-H Q18: the big-order keyset must semi-join (keys only — no row
    explosion, no post-join dedup) and the report must end in partial
    heaps, not a global sort."""
    plan = _plan(spark, sf_dir, "q_report_large_orders")
    assert "LeftSemi" in plan, f"keyset filter did not compile to semi join:\n{plan}"
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_factors_push_to_both_scans(spark, sf_dir):
    """TPC-H Q19: Catalyst must extract the OR-branches' common factors
    per side — brand IN-list to the part scan, quantity range to the
    lineitem scan — and broadcast part."""
    plan = _plan(spark, sf_dir, "q_report_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    # each scan node's PushedFilters must carry its side's factored branch
    li_pushed = [
        seg.split("ReadSchema")[0]
        for seg in plan.split("Scan parquet")
        if "lineitem.parquet" in seg
    ][0]
    part_pushed = [
        seg.split("ReadSchema")[0]
        for seg in plan.split("Scan parquet")
        if "part.parquet" in seg
    ][0]
    assert "GreaterThanOrEqual(l_quantity" in li_pushed, (
        "quantity ranges not factored down to the lineitem scan"
    )
    assert "EqualTo(p_brand" in part_pushed, (
        "brand equalities not factored down to the part scan"
    )


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    """Q13: the priority exclusion must ride the JOIN (not a post-filter
    that would drop zero-order customers); two-level agg with partials."""
    plan = _plan(spark, sf_dir, "q_report_customer_distribution")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2, "no partial aggregation"
    from pyspark.sql import functions as F

    n_cust = REGISTRY["q_report_customer_distribution"].fn(spark, sf_dir).agg(
        F.sum("n_customers")
    ).collect()[0][0]
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert n_cust == total, "outer join lost customers"


def test_sessionize_windows_are_keyed(spark, sf_dir):
    """Sessionization must never run an unpartitioned (single-task)
    window: every window spec in the plan partitions by user_id."""
    plan = _plan(spark, sf_dir, "q_event_sessionize")
    n_specs = plan.count("windowspecdefinition(")
    n_keyed = plan.count("windowspecdefinition(user_id")
    assert n_specs > 0, f"expected window nodes in the plan:\n{plan}"
    assert n_specs == n_keyed, (
        f"{n_specs - n_keyed} window spec(s) lack the user_id partition "
        f"(single-task global sort at scale):\n{plan}"
    )


def test_curation_pipeline_is_single_shuffle(spark, sf_dir):
    """The composed curation pipeline's docstring claims one shuffle (the
    dedup window) with the language gate pushed into the scan — assert
    both, so the claim can't silently rot."""
    plan = _plan(spark, sf_dir, "q_llm_curation_pipeline")
    n_exchanges = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and ") Exchange" in ln
    )
    assert n_exchanges == 1, f"expected exactly one shuffle, got {n_exchanges}:\n{plan}"
    assert "In(lang" in plan.split("ReadSchema")[0], "lang gate not pushed to the scan"


def test_q7_volume_shipping_filters_dims_before_facts(spark, sf_dir):
    """TPC-H Q7: the nation-pair predicate must reach the nation scans
    (broadcast side) so supplier/customer shrink before the fact joins."""
    plan = _plan(spark, sf_dir, "q_report_volume_shipping")
    assert "In(n_name, [NATION_1,NATION_2]" in plan, "nation pair not pushed"
    assert "GreaterThanOrEqual(l_shipdate" in plan, "ship window not pushed"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q8_market_share_gates_pushed_one_agg(spark, sf_dir):
    """TPC-H Q8: the part-type gate prunes at the scan; the region gate
    compiles to a semi-join; numerator and denominator share one
    aggregate pass (a single groupBy, no second scan)."""
    plan = _plan(spark, sf_dir, "q_report_market_share")
    assert "EqualTo(p_type,ECONOMY)" in plan, "part filter not pushed"
    assert "LeftSemi" in plan, "region gate should be a semi join"
    assert "Cartesian" not in plan


def test_q15_top_supplier_no_sort_merge_no_window(spark, sf_dir):
    """TPC-H Q15: the scalar max rides a 1-row broadcast — no global
    window over suppliers, no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "q_report_top_supplier")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LessThan(l_shipdate" in plan, "quarter bound not pushed"


def test_q17_small_qty_partial_agg_and_part_gate(spark, sf_dir):
    """TPC-H Q17: the brand/size gate reaches the part scan and the
    per-part average is a partial+final aggregate (decorrelated), not a
    per-row subquery."""
    plan = _plan(spark, sf_dir, "q_report_small_qty_revenue")
    assert "EqualTo(p_brand,Brand#13)" in plan, "brand gate not pushed"
    assert plan.count("HashAggregate") >= 2, "no map-side partial aggregation"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q21_waiting_suppliers_aggregated_not_triple_scan(spark, sf_dir):
    """TPC-H Q21: the EXISTS / NOT EXISTS pair is one orderkey aggregate
    + a co-partitioned join back — no semi/anti joins, no third lineitem
    scan, top-10 via partial heaps."""
    plan = _plan(spark, sf_dir, "q_report_waiting_suppliers")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(o_orderstatus,F)" in plan, "status gate not pushed"
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert plan.count("lineitem.parquet") <= 2, "lineitem scanned more than twice"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q22_sales_opportunity_anti_join_pruned_orders(spark, sf_dir):
    """TPC-H Q22: dormancy is a LEFT ANTI join against a date-pruned
    orders scan (the date bound must reach the parquet reader); the
    balance average is a broadcast scalar."""
    plan = _plan(spark, sf_dir, "q_report_sales_opportunity")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,1999-01-01" in plan, "date bound not pushed"


def test_rolling_active_collapses_before_exploding(spark, sf_dir):
    """Rolling 7-day actives: the ×7 day expansion must run on the
    distinct (day, user) table, never on raw events — the Generate node
    sits above the distinct aggregate, and the day-list clip is a
    broadcast semi-join."""
    plan = _plan(spark, sf_dir, "q_event_rolling_active")
    gen = plan.index("Generate")
    assert "explode(sequence" in plan, "no day-window expansion found"
    # the distinct aggregate feeding Generate appears later in the
    # formatted details (children print after parents)
    assert "LeftSemi" in plan, "partial-window clip should be a semi join"
    assert plan.count("events.parquet") <= 2
    detail = plan[plan.index("(6) Generate") :] if "(6) Generate" in plan else plan[gen:]
    assert "HashAggregate" in plan[:gen], "expansion not fed by an aggregate"


def test_schema_drift_scan_still_prunes_columns(spark, sf_dir):
    """mergeSchema must not defeat column pruning: the merged scan reads
    only (lang, source) — never the wide text column."""
    plan = _plan(spark, sf_dir, "q_scan_schema_drift")
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "source" in read_schema
    assert "text" not in read_schema, "drifted scan reads the text column it never uses"


def test_q2_min_cost_exchange_reuse_and_broadcasts(spark, sf_dir):
    """TPC-H Q2 (min-cost supplier): the region-filtered offer set feeds
    both the per-part MIN and the equality probe from ONE subtree (no
    second lineitem scan pair beyond the reused aggregate), dims and the
    gated part slice are broadcast, and top-100 uses partial heaps."""
    plan = _plan(spark, sf_dir, "q_report_min_cost_supplier")
    assert "TakeOrderedAndProject" in plan, "top-100 should use partial heaps"
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,EUROPE)" in plan, "region gate not pushed"
    assert "LessThan(p_size,20)" in plan, "part size gate not pushed"
    assert "LeftSemi" in plan, "part slice must prune the fact below the cost aggregate"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q9_product_profit_part_gate_first(spark, sf_dir):
    """TPC-H Q9: the part-name gate is the selective predicate — it must
    reach the part scan, nation must broadcast, and the orders side must
    read only (orderkey, orderdate)."""
    plan = _plan(spark, sf_dir, "q_report_product_profit")
    assert "p_name" in plan.split("PushedFilters")[1][:400] or "StringContains(p_name" in plan, (
        "part name gate not pushed to the part scan"
    )
    assert "BroadcastHashJoin" in plan
    orders_schema = [
        seg[:300] for seg in plan.split("ReadSchema")[1:] if "o_orderdate" in seg[:300]
    ]
    assert orders_schema and all(
        "o_totalprice" not in seg for seg in orders_schema
    ), "orders scan reads columns Q9 never uses"


def test_q11_important_stock_single_fact_scan(spark, sf_dir):
    """TPC-H Q11: the threshold is a 1-row broadcast scalar over the SAME
    per-part aggregate subtree — lineitem is scanned once (AQE exchange
    reuse), and the supplier gate is a broadcast before the fact join."""
    plan = _plan(spark, sf_dir, "q_report_important_stock")
    assert plan.count("lineitem.parquet") <= 2, "fact scanned more than the reused pair"
    assert "BroadcastHashJoin" in plan
    # the 1-row scalar threshold rides a BroadcastNestedLoopJoin by design;
    # a real CartesianProduct node is the thing that must never appear
    assert "CartesianProduct" not in plan


def test_q12_ship_split_pushes_year_and_prunes(spark, sf_dir):
    """TPC-H Q12: the ship-year window reaches the lineitem scan and the
    lineitem side reads only (orderkey, shipdate)."""
    plan = _plan(spark, sf_dir, "q_report_ship_priority_split")
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plan, "year bound not pushed"
    li_schema = [
        seg[:300] for seg in plan.split("ReadSchema")[1:] if "l_shipdate" in seg[:300]
    ]
    assert li_schema and all(
        "l_extendedprice" not in seg for seg in li_schema
    ), "lineitem scan reads columns Q12 never uses"


def test_q16_supplier_count_anti_join_before_distinct(spark, sf_dir):
    """TPC-H Q16: the complaint-supplier exclusion is a broadcast LEFT
    ANTI and the part attribute gates reach the part scan — both prune
    BEFORE the distinct's shuffle."""
    plan = _plan(spark, sf_dir, "q_report_supplier_part_count")
    assert "LeftAnti" in plan, "supplier exclusion should be an anti join"
    assert "Not(EqualTo(p_brand,Brand#13))" in plan, "brand exclusion not pushed"
    assert "In(p_size, [" in plan, "size IN-list not pushed"


def test_q20_dominant_supplier_semi_gate_and_shared_shuffle(spark, sf_dir):
    """TPC-H Q20 (r13 layout): the fact source is the ship_year-
    partitioned, partkey-bucketed covering projection with the part-
    family flag materialized — the plan must PARTITION-PRUNE on
    ship_year, push the p_small flag to the scan, and run the
    per-(part,supplier) aggregate + per-part window WITHOUT any shuffle
    exchange before the majority filter (the bucket distribution serves
    both)."""
    plan = _plan(spark, sf_dir, "q_report_dominant_supplier")
    assert "PartitionFilters" in plan and "ship_year" in plan.split(
        "PartitionFilters"
    )[1][:200], "year bound must prune partitions"
    assert "EqualTo(p_small,true)" in plan, "family flag not pushed to the scan"
    assert "SelectedBucketsCount" in plan, "fact must read the bucketed layout"
    # ONE shuffle exchange total — the single-partition presentation
    # sort; the per-(part,supplier) aggregate and the per-part window
    # both reuse the bucket distribution (r13 review: the first cut
    # grepped for 'ShuffleExchange', a token the formatted explain never
    # prints — vacuously green)
    n = _shuffle_exchanges(plan)
    assert n == 1, f"agg/window must reuse the bucket distribution ({n}):\n{plan}"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_rollup_incremental_prunes_delta_scan(spark, sf_dir):
    """Incremental rollup: both the base and delta scans carry their time
    bound as a PushedFilter (at scale: partition pruning on the lake's
    date prefix), and the merge aggregates partials — there must be no
    join, no window, and no fact-wide shuffle beyond the two groupBys."""
    plan = _plan(spark, sf_dir, "q_rollup_incremental")
    assert "GreaterThanOrEqual(ts" in plan, "delta bound not pushed"
    assert "LessThan(ts" in plan, "base bound not pushed"
    assert "Join" not in plan, "rollup merge must not join"
    assert "Window" not in plan


def test_vwap_twap_bars_are_single_keyed_shuffle(spark, sf_dir):
    """VWAP: one partial-aggregated shuffle, volume extraction in the
    scan projection. TWAP: the lead-window partitions by the bar key
    (no global sort) and shares its shuffle with the aggregate."""
    vwap = _plan(spark, sf_dir, "q_event_vwap")
    # the formatted plan prints each node twice (tree + detail): count
    # tree lines only
    assert vwap.count("- Exchange (") == 1, "VWAP should shuffle exactly once"
    assert "HashAggregate" in vwap
    twap = _plan(spark, sf_dir, "q_event_twap")
    assert "Window" in twap
    assert twap.count("- Exchange (") == 1, "TWAP window+agg should share one shuffle"
    # keyed window: a global sort would need a rangepartitioning exchange
    assert "rangepartitioning" not in twap, "TWAP window sort went global"


def test_resample_ffill_aggregates_to_grid_granularity(spark, sf_dir):
    """Resample+ffill (r10 rewrite): the fact pays ONE partial-aggregated
    pass to (symbol, hour) — no per-tick union+window, no nested-loop
    probing of grid points; the forward-fill window runs on the
    bookkeeping-sized grid join."""
    plan = _plan(spark, sf_dir, "q_event_resample_ffill")
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Window" in plan
    assert "partial_max_by" in plan or "partial_min" in plan, (
        "per-hour tick aggregate must partial-combine map-side:\n" + plan
    )
    assert "Union" not in plan, "r10: ticks must not union into the grid window"


def test_numbering_join_partitions_on_key_and_bucket(spark):
    """Runtime guard for the r7 parallelism-collapse incident: the
    distributed running count (the row index the trailing-sum join keys
    on) must execute its payload at (key, __bkt) parallelism, never key
    alone. The original collapse was an AQE RUNTIME replan
    (requireAllClusterKeysForCoPartition=false let the bookkeeping
    side's hash(key) satisfy a co-partitioned SMJ by subset; sf10:
    38.7 s vs 7.7 s on q_event_rolling_zscore). The offsets side
    BROADCASTS (bookkeeping-sized by contract), so no co-partitioned
    join exists to collapse — this guard pins that shape: the payload
    join is a BroadcastHashJoin, and the executed adaptive plan still
    hashes on the FULL (key, __bkt) cluster keys for both the payload
    window and the bookkeeping aggregate."""
    import re

    from pyspark.sql import functions as F

    from fineventstream_spark.operators.rolling import with_distributed_prefix

    df = spark.range(200_000).select(
        (F.col("id") % 16).cast("string").alias("k"),
        F.col("id").alias("v"),
        F.lit(1).alias("one"),
    )
    out = with_distributed_prefix(
        df, ["k"], ["v"], {"rn": ("sum", "one")}, n_buckets=32, serial_below_bytes=0
    )
    out.write.format("noop").mode("overwrite").save()
    final = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in final, (
        "offsets must broadcast into the payload (no co-partitioned join "
        "to collapse):\n" + final
    )
    bkt_parts = {
        p
        for p in re.findall(r"hashpartitioning\([^)]*\)", final)
        if "__bkt" in p
    }
    assert len(bkt_parts) >= 2, (
        "payload exchange lost its (key, __bkt) partitioning — only "
        f"{bkt_parts or '{}'} hash on __bkt in the executed plan (subset "
        "co-partitioning collapse):\n" + final
    )


def test_rolling_zscore_has_no_sliding_frame(spark, sf_dir):
    """At fixture scale the z-score's trailing frame is a prefix
    difference: one running window plus lag(·, 100) over the same spec —
    one exchange and one sort, and no bounded sliding ROWS frame
    (SlidingWindowFunctionFrame re-aggregates all 100 rows per row)."""
    import re

    plan = _plan(spark, sf_dir, "q_event_rolling_zscore")
    assert not re.search(r"RowFrame, -\d+, currentrow", plan), plan
    assert _shuffle_exchanges(plan) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan


def test_rolling_zscore_at_scale_joins_on_key_and_row(at_scale, spark, sf_dir):
    """At scale the running sums come from ONE with_distributed_prefix
    pass, whose payload window partitions by (event_type, __bkt), and the
    earlier prefix is an equi-join on the unique (event_type, row) pair:
    no chunk replication (no Generate) and no sliding frame."""
    import re

    plan = _plan(spark, sf_dir, "q_event_rolling_zscore")
    assert "Generate" not in plan and "chunk" not in plan, plan
    assert not re.search(r"RowFrame, -\d+, currentrow", plan), plan
    # a Window's formatted arguments: [functions], [partition], [order]
    assert re.search(r"\], \[event_type#\d+, __bkt#\d+\], \[__us#", plan), plan
    # null-safe key equality hashes the key as (coalesce, isnull)
    assert re.search(
        r"hashpartitioning\(coalesce\(event_type#\d+, \), isnull\(event_type#\d+\), "
        r"__rn#\d+L?, ",
        plan,
    ), plan
    assert "rangepartitioning" not in plan, "window sort went global"


def test_rolling_zscore_at_scale_sums_each_prefix_once(at_scale, spark, sf_dir):
    """The in-bucket Window of with_distributed_prefix computes one running
    sum per prefix aggregate (row number, Σc, Σc², k): its sum merge
    reads each window output twice, and must read a column, not repeat
    the window expression."""
    df = REGISTRY["q_event_rolling_zscore"].fn(spark, sf_dir)
    stack, in_bucket = [df._jdf.queryExecution().optimizedPlan()], []
    while stack:
        node = stack.pop()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        if node.nodeName() != "Window":
            continue
        partition = node.partitionSpec()
        if "__bkt" in partition.apply(partition.size() - 1).toString():
            exprs = node.windowExpressions()
            in_bucket.append(
                [exprs.apply(i).child().toString() for i in range(exprs.size())]
            )
    assert in_bucket
    for exprs in in_bucket:
        sums = [e for e in exprs if e.startswith("sum(")]
        assert len(sums) == len(set(sums)) == 4, exprs


def test_correlation_collapses_fact_before_pair_join(spark, sf_dir):
    """The pair join must run on the daily aggregate, not the fact: the
    events scan feeds a HashAggregate BELOW the join."""
    import re

    plan = _plan(spark, sf_dir, "q_event_correlation")
    # formatted-plan node ids number bottom-up (scan = 1): the daily
    # aggregate's id must be smaller than every join's id
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    join_ids = [
        int(m)
        for m in re.findall(
            r"\((\d+)\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
        )
    ]
    assert agg_ids and join_ids, f"expected aggregates and a join:\n{plan}"
    assert min(agg_ids) < min(join_ids), "pair join runs on the raw fact"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def _scoped_confs(spark, confs: dict):
    """Set confs, returning a dict to restore afterwards."""
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


def _restore_confs(spark, prev: dict):
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Runtime bloom-filter join pruning: when a shuffle join's build side
    carries a selective filter, Catalyst injects might_contain(...) on the
    probe side so fact rows drop BEFORE the shuffle. The default
    thresholds (10 MB creation / 10 GB application scan) are sized for
    clusters — exactly the 100 TB regime — so this test scales them down
    to local fixture sizes and pins that the session-level feature flag
    stays on and the rewrite fires."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev = _scoped_confs(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, "no runtime bloom filter on the probe side"
    finally:
        _restore_confs(spark, prev)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join splitting: a hot join key must not serialize into one
    straggler task — the executed plan splits the oversized partition
    (SortMergeJoin(skew=true)). Thresholds are scaled to fixture size;
    at 100 TB the defaults (256 MB / factor 5) do the same job. The
    engine-level guarantee under test: the session keeps
    adaptive.skewJoin enabled, so AQE handles moderate skew and the
    explicit salting operators (operators/skew.py) stay reserved for
    adversarial keys."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    prev = _scoped_confs(
        spark,
        {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 80), F.col("id")).alias("pay"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        j = left.join(right, "k").select(F.sum(F.length("pay")).alias("s"))
        j.collect()
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "skew=true" in plan, "hot partition was not split"
    finally:
        _restore_confs(spark, prev)


def test_orc_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    """The ORC reader must give the same scan hygiene as parquet:
    shipdate range in PushedFilters, untouched columns absent from
    ReadSchema."""
    plan = _plan(spark, sf_dir, "q_scan_orc")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300], "range not pushed to ORC"
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_returnflag" not in read_schema


def test_scd2_two_windows_one_shuffle(spark, sf_dir):
    """SCD2 build: the change-collapse lag and the interval lead both
    partition by user_id, which the user_id-bucketed events layout
    already satisfies, and the filter between them preserves that
    distribution — so the plan carries two Window passes and NO
    Exchange (the second pays only a re-sort)."""
    plan = _plan(spark, sf_dir, "q_scd2_user_segment")
    assert plan.count("- Window (") == 2
    assert plan.count("- Exchange (") == 0, "a window shuffled the fact"
    assert "rangepartitioning" not in plan


def test_nested_scan_prunes_struct_fields(spark, sf_dir):
    """Nested-field pruning: the scan's ReadSchema must carry only the
    struct fields the query touches — user without `noise`, no metrics
    struct at all."""
    plan = _plan(spark, sf_dir, "q_scan_nested")
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "noise" not in read_schema, "unread nested field not pruned"
    assert "metrics" not in read_schema, "unread struct not pruned"
    assert "segment" in read_schema


@pytest.mark.parametrize("name", ["q_event_drawdown", "q_event_volatility"])
def test_risk_stats_distributed_scan_shape(spark, sf_dir, name, monkeypatch):
    """Drawdown and realized volatility (r7 rewrite): the running
    max / return lag evaluates through the SIZE-SELECTED prefix/lag.
    Below the serial threshold (all test fixtures) the plan is the plain
    per-symbol window — no bookkeeping machinery for data that sorts in
    one task anyway. Forced distributed (threshold 0, the ≥64 MiB
    shape), the fact's window partitions on the FULL (event_type, __bkt)
    cluster keys, the bookkeeping offsets BROADCAST back (no
    co-partitioned join to collapse), and no sort goes global. The r5
    shape — ALWAYS one window hash-exchanged on event_type alone —
    serialized each symbol's full timeline into one task at every sf."""
    import re

    from fineventstream_spark.operators import rolling

    # small input → serial window, zero extra machinery
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" not in plan, (
        f"{name}: tiny input should take the serial window:\n{plan}"
    )
    assert "__bkt" not in plan

    # forced distributed → keys × buckets parallelism
    monkeypatch.setattr(rolling, "SERIAL_WINDOW_MAX_INPUT_BYTES", 0)
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: offsets must broadcast\n{plan}"
    assert "rangepartitioning" not in plan
    parts = set(re.findall(r"hashpartitioning\([^)]*\)", plan))
    assert any("__bkt" in p and "event_type" in p for p in parts), (
        f"{name}: no (event_type, __bkt) distribution found:\n{plan}"
    )
    # the serialization regression: a fact-side WINDOW partitioned on the
    # key alone. The bookkeeping offsets window (over per-bucket partials)
    # legitimately partitions per key — it holds counts, not rows — so
    # inspect Window nodes' partition specs, not raw exchanges.
    win_specs = re.findall(r"partitionBy=\[([^\]]*)\]", plan)
    fact_serial = [s for s in win_specs if "event_type" in s and "__bkt" not in s]
    assert len(fact_serial) <= 1, (
        f"{name}: more than the bookkeeping window runs per-key serial:\n{plan}"
    )


def test_dq_violations_no_domain_shuffle(spark, sf_dir):
    """The unique(l_orderkey) rule's distinct aggregate must reuse the
    bucketed scan's distribution: the only exchange left is the scalar
    collapse to the 5-rule report (SinglePartition), never a
    domain-sized hashpartitioning on the orderkey."""
    plan = _plan(spark, sf_dir, "q_dq_violations")
    assert "Bucketed: true" in plan
    n = _shuffle_exchanges(plan)
    assert n == 1, f"expected only the scalar collapse ({n} exchanges):\n{plan}"
    assert "hashpartitioning(l_orderkey" not in plan, (
        "distinct agg re-shuffled the key domain:\n" + plan
    )


def test_dq_profile_single_scan(spark, sf_dir):
    """Column profiling computes every column's metrics in ONE scan of
    orders — per-column scans (the oracle's spelling) must not appear."""
    plan = _plan(spark, sf_dir, "q_dq_profile")
    assert plan.count("orders.parquet") == 1, "profile re-scans the table per column"


def test_bigram_and_unigram_topk_partial_heaps(spark, sf_dir):
    """Corpus text rankings end in TakeOrderedAndProject — top/bottom-100
    via per-partition heaps, never a global sort."""
    for name in ("q_llm_bigram_counts", "q_llm_unigram_logprob"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, f"{name} global-sorts"


def test_funnel_windowed_no_event_self_join_explosion(spark, sf_dir):
    """The attribution-window funnel joins per-user FIRST-CLICK aggregates
    to purchase events — never raw events to raw events (quadratic per
    user). The first-touch aggregate must sit below the bound join."""
    import re

    plan = _plan(spark, sf_dir, "q_event_funnel_windowed")
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    join_ids = [
        int(m)
        for m in re.findall(
            r"\((\d+)\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
        )
    ]
    assert agg_ids and join_ids
    assert min(agg_ids) < min(join_ids), "bound join runs on raw events both sides"
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_snapshot_diff_pushes_both_cutoffs(spark, sf_dir):
    """Both snapshot versions' date bounds must reach the parquet reader
    (at scale: stored snapshots replace the aggregates entirely)."""
    plan = _plan(spark, sf_dir, "q_snapshot_diff")
    pushed = [seg[:200] for seg in plan.split("PushedFilters")[1:]]
    assert sum("LessThan(ts" in seg for seg in pushed) >= 2, "a cutoff did not push"
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_substring_dedup_single_pass_no_join(spark, sf_dir):
    """The substring-dedup plan contract (r4 rewrite + r5 kernel): ONE
    shingling pass (a single ArrowEvalPython kernel stage) feeding
    exactly THREE exchanges — the pre-kernel core-spread repartition
    (narrow doc rows), the shingle-hash window, the doc groupBy — and
    ZERO joins. The groupBy+join-back formulation it replaced shingled
    the fact twice and added a fact-scale sort-merge join."""
    import re

    plan = _plan(spark, sf_dir, "q_llm_substring_dedup")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 3, f"expected 3 exchanges, plan has {len(exchanges)}"
    kernels = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(kernels) == 1, "shingling must be one fused kernel pass"
    assert "Join" not in plan, "pair-marking must not join"


def test_lsh_bucket_cap_is_partial_agg_and_never_forces_broadcast(spark, sf_dir):
    """The LSH candidate-stage contract of ``dedup._capped`` and
    ``dedup.bucket_pairs``, for both the MinHash and the SimHash input:
    the bucket cap is a map-side partial-aggregated groupBy count — never
    a window that buffers full hot-bucket partitions — semi-joined back
    with NO broadcast hint, and pair formation is a bounded collect_list
    + JVM explode, NOT an a×b self-join (which exchanged the band entries
    twice). Pinned plan properties:

    1. the cap side partial-aggregates (a HashAggregate pair over the
       bucket key, so hot buckets cost one long per task);
    2. with broadcasts disabled the plan contains no BroadcastExchange at
       all — nothing in the operator FORCES a corpus-scale broadcast; any
       broadcast seen under defaults is AQE's size-based choice;
    3. no Window, and an exact join count per input:
       - MinHash, THREE: the cap semi-join plus the two sig re-attach
         joins against the persisted sig table. The bucket lists carry
         ids ONLY: the signature array must never ride the band exchange
         (it would cross 16× per doc inside collect_list(struct(id, sig)));
       - SimHash, FOUR: the fingerprint-collapse join, the
         representative semi-join (planned once for the cap count and
         once for the bucket entries) and the cap semi-join; the 8-byte
         fingerprint rides the list as struct(id, simhash).
    """
    import re

    from fineventstream_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cases = [("minhash", minhash_lsh_candidates, 3), ("simhash", simhash_candidates, 4)]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for name, candidates, n_joins in cases:
        # earlier tests persist the signature subtree; the CacheManager would
        # substitute InMemoryRelation into this plan and change its shape —
        # assert against the uncached plan
        spark.catalog.clearCache()
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = candidates(docs, "text", "doc_id")
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastExchange" not in plan, f"{name}: operator forces a broadcast"
        assert "Window" not in plan, f"{name}: cap must not buffer full bucket partitions"
        aggs = re.findall(r"^\(\d+\) \w*HashAggregate", plan, re.M)
        assert len(aggs) >= 2, f"{name}: cap count must be a partial-aggregated groupBy"
        joins = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
        assert len(joins) == n_joins, f"{name}: expected {n_joins} joins, got {joins}"
        lists = re.findall(r"collect_list\((.*?)\)", plan)
        assert lists, f"{name}: pairs must form through collect_list"
        assert not any("sig" in x for x in lists), (
            f"{name}: signature arrays must not ride the bucket collect_list exchange"
        )


def test_embedding_lsh_pairs_form_without_bucket_join(spark, sf_dir):
    """``similarity.cosine_near_dup_pairs`` forms its candidate pairs
    through ``dedup.bucket_pairs``: one collect_list per capped bucket,
    and no join keyed on the bucket (the a×b self-join it replaced read
    a persisted copy of the capped level union from both sides)."""
    import re

    from fineventstream_spark.operators.similarity import cosine_near_dup_pairs

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_near_dup_pairs(emb, "embedding", "vec_id", dim=64)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    spark.catalog.clearCache()
    assert "collect_list(id" in plan, "pairs must form through collect_list"
    assert not re.search(r"(?:Left|Right) keys \[\d+\]: \[bucket#", plan), (
        "no join may be keyed on the bucket"
    )


def test_distributed_row_number_handles_ntz_order(spark):
    """The distributed running count must accept a TIMESTAMP_NTZ order
    column (raw-parquet lakes surface NTZ before catalog normalization):
    NTZ has no direct double cast, so the bucket expression routes
    through TIMESTAMP — monotone, which is all bucketing needs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fineventstream_spark.operators.rolling import with_distributed_prefix

    df = spark.range(500).select(
        (F.col("id") % 3).alias("k"),
        F.to_timestamp_ntz(
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=(F.col("id") * 37 % 1009).cast("double"))
        ).alias("ts"),
        F.col("id").alias("tie"),
        F.lit(1).alias("one"),
    )
    got = {(r.k, r.ts, r.tie): r.rn for r in with_distributed_prefix(
        df, ["k"], ["ts", "tie"], {"rn": ("sum", "one")}, serial_below_bytes=0
    ).collect()}
    w = Window.partitionBy("k").orderBy("ts", "tie")
    want = {(r.k, r.ts, r.tie): r.rn for r in
            df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_vwap_reads_shredded_derivative_no_json(spark, sf_dir):
    """q_event_vwap's r5 contract: the plan reads the shred-on-ingest
    derivative (props.$.k as a typed parquet column) with column pruning
    down to the three columns the bars need, and contains ZERO
    query-time JSON parsing — the 2 s/1M-row get_json_object cost the r4
    verdict flagged is paid once at ingest, never per query."""
    plan = _plan(spark, sf_dir, "q_event_vwap")
    assert "get_json_object" not in plan, "query-time JSON parse crept back in"
    assert "events_shredded" in plan, "must scan the shredded derivative"
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "props_k" in read_schema
    assert "props:" not in read_schema, "raw JSON column must be pruned"
    assert "user_id" not in read_schema, "unused columns must be pruned"


def test_dedup_cluster_star_edges_no_text_join(spark, sf_dir):
    """q_llm_dedup_cluster's r5 edge generation: sha2-grouped sorted id
    lists exploded as star edges — the edge subtree (audited directly;
    connected_components truncates lineage so the final query plan no
    longer shows it) must hash-group on the digest with partial
    aggregation and contain NO join at all (the r4 form was a corpus
    self-join sort-merging ~250-char string keys)."""
    import re

    from fineventstream_spark.queries.llm import exact_dup_star_edges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = exact_dup_star_edges(docs, "text", "doc_id")
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "sha2" in plan
    assert "Join" not in plan, "edge generation must not join"
    aggs = re.findall(r"^\(\d+\) \w*HashAggregate", plan, re.M)
    assert len(aggs) >= 2, "edge grouping must partial-aggregate"


def test_product_profit_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q9 (r7 rewrite): the fact is never exchanged — the
    orders⋈lineitem SMJ is bucket-co-located, part/supplier/nation
    broadcast, and the only Exchange left is the 175-group
    (nation, year) aggregate, which is map-side partial-aggregated
    (KB-scale). The r5 form's un-hinted part join flipped to a
    full-fact SMJ past the autoBroadcast threshold at sf30 (16.9 s vs
    4.8 s rewritten)."""
    plan = _plan(spark, sf_dir, "q_report_product_profit")
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"q_report_product_profit fact shuffle came back ({n}):\n{plan}"
    assert "Bucketed: true" in plan, "Q9 is not reading the bucketed derivative"
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_topk_per_group_partial_window_limit(spark, sf_dir):
    """Top-k per group must push a PARTIAL WindowGroupLimit below the
    shuffle (Spark 3.5+ rank-limit pushdown): each map partition keeps
    only its local top-5 per key, so the exchange carries
    partitions × keys × 5 rows regardless of fact size. If this
    optimization regresses (e.g. a filter form the optimizer can't
    match), the full fact sorts per key."""
    plan = _plan(spark, sf_dir, "q_win_topk_per_group")
    assert plan.count("WindowGroupLimit") >= 2, (
        "rank-limit pushdown missing (need partial + final):\n" + plan
    )
    assert "Partial" in plan


def test_enrich_priority_join_is_colocated(spark, sf_dir):
    """q_join_enrich_priority (r10 routing-policy probe) must keep the
    zero-exchange bucketed SMJ on uniform layouts: the only shuffle in the
    whole plan is the 5-row post-agg exchange on o_orderpriority. A second
    Exchange means the join lost co-location (layout mis-registration or
    an accidental route_skew opt-in — the measured A/B says the layout
    wins 1.6x for this shape even under an 18%-hot key)."""
    plan = _plan(spark, sf_dir, "q_join_enrich_priority")
    assert "SortMergeJoin" in plan, f"expected co-located SMJ:\n{plan[:1500]}"
    n = _shuffle_exchanges(plan)
    assert n == 1, f"expected exactly the post-agg exchange, found {n}:\n{plan[:1500]}"


def test_report_skew_variants_equivalent_and_shaped(spark, tmp_path, monkeypatch):
    """r11 (verdict #2): Q12-split and Q9 switch to pre-aggregate-before-
    join plan shapes when the orderkey layout group is recorded skew-
    degenerate. Pin on a 35%-hot mini-fixture:

    - both branches (forced via the routing threshold) return
      IDENTICAL rows — bit-exact since the r11 integer-unit rewrite of
      Q9's profit sum (summation-order-proof on both branches);
    - the Q12 skew plan pre-aggregates on (l_orderkey, l_shipdate)
      WITHOUT adding a fact exchange (same Exchange count as baseline —
      the pre-agg rides the bucket distribution);
    - the Q9 skew plan aggregates on (l_orderkey, n_name) below the
      orders join, reading the PLAIN scan (per-line dim probes
      parallelize across input splits instead of serializing into the
      hot bucket's task).
    """
    import warnings as _w

    from tests.test_operators import _skewed_sf_fixture

    from fineventstream_spark.operators import bucketed
    from fineventstream_spark.operators.bucketed import layout_skew_degenerate
    from fineventstream_spark.queries.reports import (
        q_report_product_profit,
        q_report_ship_priority_split,
    )

    sf = _skewed_sf_fixture(tmp_path)

    def run(q, threshold: float):
        with monkeypatch.context() as m, _w.catch_warnings():
            m.setattr(bucketed, "SKEW_RATIO_THRESHOLD", threshold)
            _w.simplefilter("ignore")  # layout self-report, expected
            df = q(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows = sorted(map(tuple, df.collect()))
        return rows, plan

    # 0 disables routing/skew-branching entirely -> baseline plan
    base12, plan12_base = run(q_report_ship_priority_split, 0.0)
    skew12, plan12_skew = run(q_report_ship_priority_split, 4.0)
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        assert layout_skew_degenerate(sf, "lineitem")
    assert base12 == skew12
    assert "l_shipdate" in plan12_skew and "HashAggregate" in plan12_skew
    assert plan12_skew.count("Exchange") == plan12_base.count("Exchange"), (
        "Q12 pre-agg must ride the bucket distribution, not add an exchange"
    )

    base9, _ = run(q_report_product_profit, 0.0)
    skew9, plan9_skew = run(q_report_product_profit, 4.0)
    assert base9 == skew9, "integer-unit profit must be branch-bit-identical"
    assert "l_orderkey" in plan9_skew and "n_name" in plan9_skew
    # the skew branch reads the plain parquet, not the bucketed derivative
    assert "lineitem_bucketed" not in plan9_skew, (
        "Q9 skew branch must scan plain lineitem so dim probes parallelize"
    )


def test_hof_lint_anchors_lambda_to_call_span():
    """r12 advisor: a benign rewritten-EXISTS `exists(` must not be
    flagged just because an UNRELATED lambda appears elsewhere in the
    same Project node string; a real HOF with its lambda inside its own
    argument span must be."""
    from fineventstream_spark.operators.plan_audit import expensive_expr_reason

    # false-positive class: exists() is plain, the lambda belongs to a
    # function outside the expensive-HOF set (array_sort)
    mixed = (
        "Project [exists(arr#1) AS has#2, "
        "array_sort(arr#3, lambdafunction((x#4 < y#5), x#4, y#5)) AS s#6]"
    )
    assert expensive_expr_reason(mixed) is None

    # true positive: the lambda sits inside transform's own span
    real = (
        "Project [exists(arr#1) AS has#2, "
        "transform(arr#3, lambdafunction((x#4 + 1), x#4)) AS t#6]"
    )
    assert expensive_expr_reason(real) == "transform"

    # md5-class kernels flag regardless of lambdas
    assert expensive_expr_reason("Project [md5(cast(k#1 as binary)) AS h#2]") == "md5"
    # plans print some kernels upper-case
    assert expensive_expr_reason("Project [RLIKE(s#1, ^a+$) AS m#2]") == "rlike"


def test_q8_market_share_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q8 (r14 bucketed rewrite): lineitem reaches the orders join
    through broadcast-only joins, the orderkey join is co-located on the
    bucketed layout, and the AMERICA customer gate broadcasts — the ONLY
    shuffle left is the ~7-group year aggregate."""
    plan = _plan(spark, sf_dir, "q_report_market_share")
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"q_report_market_share shuffles ({n}):\n{plan}"
    assert "Bucketed: true" in plan
    assert "SortMergeJoin LeftSemi" not in plan, "customer gate shuffles again"


def test_q18_large_orders_zero_fact_shuffle(spark, sf_dir):
    """TPC-H Q18 (r14 bucketed rewrite): keyset aggregate, orders
    semi-join, detail join and per-order aggregate are all
    bucket-co-located, and the customer join happens AFTER the per-order
    aggregate — no fact-sized exchange anywhere (the custkey join side
    carries only HAVING-filtered order aggregates)."""
    plan = _plan(spark, sf_dir, "q_report_large_orders")
    n = _shuffle_exchanges(plan)
    assert n <= 2, f"q_report_large_orders fact shuffle came back ({n}):\n{plan}"
    assert "Bucketed: true" in plan


def test_q21_waiting_suppliers_no_expand_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q21 (r14): the per-order supplier stats must plan as two
    stacked orderkey-prefixed aggregates — NO Expand (the two-countDistinct
    form doubled every joined row before an exchange no orderkey layout
    could satisfy). On the uniform (non-degenerate) layout everything
    orderkey rides the buckets; the only shuffle is the 10-row s_name
    aggregate."""
    plan = _plan(spark, sf_dir, "q_report_waiting_suppliers")
    assert "Expand" not in plan, f"countDistinct Expand came back:\n{plan}"
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"q_report_waiting_suppliers shuffles ({n}):\n{plan}"
    assert "TakeOrderedAndProject" in plan


def test_count_of_counts_zero_fact_shuffle(spark, sf_dir):
    """q_agg_count_of_counts (r14): the per-order count groups by the
    bucket key on the bucketed layout — the only exchanges left carry
    the ~17-row n_lines histogram and its output sort."""
    plan = _plan(spark, sf_dir, "q_agg_count_of_counts")
    n = _shuffle_exchanges(plan)
    assert n <= 2, f"q_agg_count_of_counts fact shuffle came back ({n}):\n{plan}"
    assert "Bucketed: true" in plan


def test_decontaminate_probes_eval_set_before_any_exchange(spark, sf_dir):
    """q_llm_decontaminate (r14): the broadcast eval-shingle probe must
    sit BELOW every shuffle exchange (map-side filter first — only
    matching (doc, shingle) rows may reach an exchange). The pre-r14
    shape distinct-ed the whole tokenized corpus before the selective
    join."""
    plan = _plan(spark, sf_dir, "q_llm_decontaminate")
    tree = plan.split("(1) Scan")[0]
    join_at = tree.find("BroadcastHashJoin")
    assert join_at != -1, f"eval probe is not a broadcast join:\n{plan}"
    # the STREAMED (train) side prints between the join node and its
    # BroadcastExchange build child; the eval set's own distinct
    # exchange (benchmark-sized, inside the broadcast subtree) is fine
    build_at = tree.find("BroadcastExchange", join_at)
    assert build_at != -1, f"no broadcast build side:\n{plan}"
    import re

    streamed = tree[join_at:build_at]
    assert not re.search(r"\bExchange \(\d+\)", streamed), (
        f"shuffle exchange on the streamed side below the eval probe:\n{plan}"
    )


def test_q7_volume_shipping_single_tiny_shuffle(spark, sf_dir):
    """TPC-H Q7 (r14 bucketed rewrite): the shipdate filter and the
    broadcast nation-filtered supplier map preserve the bucketed
    distribution into the orderkey join, and the 2/25-filtered customer
    map broadcasts — the only shuffle at any scale is the
    ~(2 × 2 × years)-group aggregate."""
    plan = _plan(spark, sf_dir, "q_report_volume_shipping")
    n = _shuffle_exchanges(plan)
    assert n <= 1, f"q_report_volume_shipping shuffles ({n}):\n{plan}"
    assert "Bucketed: true" in plan
    assert "SortMergeJoin Inner" not in plan or "Exchange" not in plan.split(
        "SortMergeJoin Inner"
    )[0][-400:], "orderkey SMJ re-shuffles a bucketed side"


def test_events_user_layout_zero_exchange_windows(spark, sf_dir):
    """r15 (verdict #4): the user_id-bucketed events layout removes the
    fact exchange from every user_id-clustered window/UDAF consumer —
    HashPartitioning(user_id) satisfies the window's / applyInPandas's /
    the aggregate's ClusteredDistribution. These plans must be bucketed
    scans with ZERO shuffle exchanges (the A/B at sf10 measured 53-280 MB
    of fact shuffle per query on the plain scans:
    BASELINE.md "Events layout A/B at sf10"). q_win_frame_rows is
    covered at the uniform fixture only — on a skew-degenerate input the
    hot/cold split machinery deliberately reintroduces exchanges for the
    hot keys."""
    zero_exchange = [
        "q_event_sessionize",
        "q_session_window",
        "q_udaf_grouped",
        "q_win_rank",
        "q_win_lag_lead",
        "q_win_frame_rows",
        "q_win_frame_range",
        "q_win_pct_rank",
        "q_scd2_user_segment",
    ]
    for name in zero_exchange:
        plan = _plan(spark, sf_dir, name)
        assert "Bucketed: true" in plan, f"{name} does not read the layout:\n{plan}"
        n = _shuffle_exchanges(plan)
        assert n == 0, f"{name} still shuffles ({n}):\n{plan}"


def test_events_user_layout_agg_consumers_tiny_shuffle(spark, sf_dir):
    """r15 (verdict #4): the aggregate-collapsing layout consumers keep
    only their post-collapse exchanges (day/cohort-grained rows, KBs at
    sf0.1) — the fact itself never shuffles."""
    for name, max_ex in (
        ("q_event_rolling_active", 3),
        ("q_event_retention", 1),
        ("q_event_funnel_windowed", 2),
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Bucketed: true" in plan, f"{name} does not read the layout:\n{plan}"
        n = _shuffle_exchanges(plan)
        assert n <= max_ex, f"{name} shuffles ({n}) > {max_ex}:\n{plan}"


# One registered query per size gate whose optimized plan the gate's
# at-scale value moves at fixture scale.
GATE_PROBES = {
    "SERIAL_WINDOW_MAX_INPUT_BYTES": "q_event_rolling_zscore",
    "SERIAL_WINDOW_MAX_PARTITION_BYTES": "q_win_frame_rows",
    "BROADCAST_MAX_INPUT_BYTES": "q_report_market_share",
    "KERNEL_SPREAD_MAX_INPUT_BYTES": "q_llm_substring_dedup",
    "SKEW_RATIO_THRESHOLD": "q_report_ship_priority_split",
    "CC_LOCAL_MAX_EDGES": "q_llm_dedup_cluster",
    "PHI_EXACT_MAX_INPUT_BYTES": "q_event_heavy_hitters",
}


def _optimized_plan(spark, sf_dir, name: str) -> str:
    import re

    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?|plan_id=\d+", "#", plan)
    return re.sub(r"(lambda \w+?)_\d+", r"\1", plan)


@pytest.mark.parametrize("target", AT_SCALE, ids=lambda t: t.rsplit(".", 1)[1])
def test_at_scale_profile_reaches_gate(target, spark, sf_dir, monkeypatch):
    """Each gate's at-scale value alone moves its probe query's plan, so
    the ``at_scale`` profile really runs the registry on the other side
    of every gate."""
    import warnings

    name = GATE_PROBES[target.rsplit(".", 1)[1]]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # skew-degenerate layout self-report
        default = _optimized_plan(spark, sf_dir, name)
        monkeypatch.setattr(target, AT_SCALE[target])
        at_scale = _optimized_plan(spark, sf_dir, name)
    assert at_scale != default, f"{target} does not reach {name}'s plan"
