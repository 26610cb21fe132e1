"""Physical-plan shape pins: the queries must not silently de-optimize.

Each test asserts the plan properties that matter at 100 TB — filters pushed
to the parquet scan, columns pruned, dims broadcast (fact side never
shuffled for a dim join), no accidental cartesian products.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_spark import catalog as cat
from data_warehouse_spark.operators import analytics
from .explain import plan_report

from .conftest import SF_DIR


def test_pricing_summary_pushdown_and_pruning(spark):
    df = analytics.pricing_summary(cat.load_table(spark, SF_DIR, "lineitem"))
    rep = plan_report(df, run_first=True)  # AQE final plan carries codegen ids
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    cols = rep.scans_column_count("lineitem")
    # 7 needed columns (flag, status, qty, price, discount, tax, shipdate)
    assert cols is not None and cols <= 7, rep.text
    assert rep.codegen_spans >= 1, rep.text


def test_revenue_by_nation_broadcasts_all_dims(spark):
    df = analytics.revenue_by_nation(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    # at this SF every dim side (customer, supplier, nation, region) ends up
    # broadcast — nation/region by hint, customer/supplier promoted by the
    # optimizer from observed size (no hint: they grow with SF); only the
    # lineitem↔orders fact join may shuffle
    assert rep.broadcast_joins >= 4, rep.text
    assert rep.cartesian_products == 0, rep.text
    assert any("o_orderdate" in f for f in rep.pushed_filters), rep.text


def test_analytics_hints_only_on_fixed_size_dims(spark):
    """The broadcast-hint audit for the TPC-H operator family: with
    auto-broadcast disabled (so hinted exchanges are the only ones left),
    each operator's hinted-broadcast count must equal the number of
    provably BOUNDED sides it joins — nation/region projections (25/5 rows
    forever) and 1-row scalar aggregates. customer/supplier/part and every
    filtered slice of them grow with SF; forcing those into broadcasts
    OOMs at 100 TB, so they must carry no hint (AQE promotes them from
    observed sizes while they fit)."""
    t = cat.load_all(spark, SF_DIR)
    expected = [
        # (label, df, hinted broadcasts = fixed-size sides only)
        ("revenue_by_nation", analytics.revenue_by_nation(t), 2),  # nation+region
        ("shipping_priority",
         analytics.shipping_priority(t["customer"], t["orders"], t["lineitem"]), 0),
        ("top_customers", analytics.top_customers(t["customer"], t["orders"]), 0),
        ("promo_revenue_by_month",
         analytics.promo_revenue_by_month(t["lineitem"], t["part"]), 0),
        ("small_quantity_revenue",
         analytics.small_quantity_revenue(t["lineitem"], t["part"]), 0),
        ("supplier_counts_by_part",
         analytics.supplier_counts_by_part(t["part"], t["supplier"], t["lineitem"]), 0),
        ("disjunctive_revenue",
         analytics.disjunctive_revenue(t["lineitem"], t["part"]), 0),
        ("nation_profit", analytics.nation_profit(t), 1),  # nation
        ("market_share", analytics.market_share(t), 3),  # nation×2 + region
        ("nation_pair_volume", analytics.nation_pair_volume(t), 2),  # 2-row pair×2
        ("excess_supply_suppliers", analytics.excess_supply_suppliers(t), 0),
        # remaining hinted operators: every hint is on a bounded side
        # (nation/region projections or 1-row / per-event-type scalar aggs)
        ("min_cost_supplier", analytics.min_cost_supplier(t), 4),  # nation+region ×2 uses
        ("top_revenue_suppliers",
         analytics.top_revenue_suppliers(t["supplier"], t["lineitem"]), 1),  # 1-row max
        ("returned_item_revenue", analytics.returned_item_revenue(t), 1),  # nation
        ("anomalous_hours",
         analytics.anomalous_hours(t["events"]), 0),  # r11: moments ride a window, no join
    ]
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_auto = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for label, df, want in expected:
            rep = plan_report(df)
            assert rep.broadcast_joins == want, f"{label}: {rep.text}"
        # important_part_values's only hint is the 1-row scalar total, which
        # plans as a BroadcastNestedLoopJoin, not a BroadcastHashJoin — its
        # shape is pinned by test_important_part_values_single_fact_scan_
        # broadcast_total instead.
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
        if aqe_auto is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqe_auto)
        else:
            # unset, not set-to-default: leaving '-1' pinned would silently
            # disable AQE broadcast promotion for every later test
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_shipping_priority_semi_join_broadcast(spark):
    df = analytics.shipping_priority(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "orders"),
        cat.load_table(spark, SF_DIR, "lineitem"),
    )
    rep = plan_report(df)
    assert rep.broadcast_joins >= 1, rep.text
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert any("o_orderdate" in f for f in rep.pushed_filters), rep.text


def test_transfers_filter_reaches_scan(spark):
    from data_warehouse_spark.operators import queries as wh

    v = cat.warehouse_views(spark, SF_DIR)
    df = wh.transfers(v["transfer"], tenant="NATION_2", status=1, amount_gte=100)
    rep = plan_report(df)
    # tenant filter must reach the nation dim scan; status filter must reach
    # the orders scan (status is derived from o_orderstatus, so at minimum
    # the date/key filters push) — assert SOMETHING pushed into lineitem side
    assert rep.pushed_filters, rep.text
    assert rep.cartesian_products == 0, rep.text


def test_point_lookup_prunes_to_single_column(spark):
    v = cat.warehouse_views(spark, SF_DIR)
    from data_warehouse_spark.operators import queries as wh

    df = wh.tenants(v["tenant"], limit=10, offset=0)
    rep = plan_report(df)
    assert rep.scans_column_count("nation") == 1, rep.text  # only n_name read


def test_funnel_is_single_pass(spark):
    """The funnel must scan events ONCE (IN-filter on step types pushed)
    and fold per-user state — no per-step rescans or join shuffles."""
    import re

    df = analytics.funnel(cat.load_table(spark, SF_DIR, "events"))
    rep = plan_report(df)
    # count scan DETAIL headers — the tree section names each node twice
    assert len(re.findall(r"\(\d+\) Scan parquet", rep.text)) == 1, rep.text
    assert (
        rep.broadcast_joins + rep.sortmerge_joins + rep.shuffle_hash_joins == 0
    ), rep.text
    # one user-grouping exchange + the tiny single-row final agg exchange
    assert rep.exchanges <= 2, rep.text
    assert any("event_type" in f for f in rep.pushed_filters), rep.text


def test_transfer_view_forces_broadcast_only_on_fixed_dims(spark):
    """customer/supplier grow with SF — forcing them into broadcasts OOMs at
    high scale. Only the two nation projections (25 rows forever) may carry
    an explicit broadcast hint; with auto-broadcast disabled, hinted
    exchanges are the only ones left, so the count pins the hint set."""
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_auto = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = cat.transfer_view(cat.load_all(spark, SF_DIR))
        rep = plan_report(df)
        assert rep.broadcast_joins == 2, rep.text  # cn + sn only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
        if aqe_auto is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqe_auto)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_exact_dedup_single_exchange(spark):
    from data_warehouse_spark.operators import dedup

    df = dedup.exact_duplicates(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    # groupBy(content_key) + join back on the same key: AQE may leave the
    # join broadcast; there must be no cartesian blowup either way
    assert rep.cartesian_products == 0, rep.text
    cols = rep.scans_column_count("documents")
    assert cols is not None and cols <= 2, rep.text  # doc_id + text only


def test_partitioned_transfer_scan_prunes_tenant(spark, tmp_path):
    """The partitioned warehouse transfer table must show partition filters
    (not data filters) for a tenant-filtered read."""
    import os

    from data_warehouse_spark.operators import queries as wh
    from data_warehouse_spark.streaming.ingest import IngestionPipeline, warehouse_store

    root = str(tmp_path / "data")
    for t in ("t_P1", "t_P2"):
        p = os.path.join(root, t, "account", "A", "snapshot", "0000000000")
        os.makedirs(os.path.dirname(p))
        with open(p, "w") as f:
            f.write("CZK FORMAT_T\n")
        tx = os.path.join(root, t, "transaction", "TR")
        os.makedirs(os.path.dirname(tx))
        with open(tx, "w") as f:
            f.write(f"committed\nX {t[2:]} A {t[2:]} A 2020-01-01T00:00:00Z 1 CZK\n")
        ev = os.path.join(root, t, "account", "A", "events", "0000000000", "1_1_TR")
        os.makedirs(os.path.dirname(ev))
        with open(ev, "w") as f:
            f.write("1\n")
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()

    df = wh.transfers(store.read("transfer"), tenant="P1")
    rep = plan_report(df)
    assert "PartitionFilters" in rep.text and "tenant" in rep.text.split(
        "PartitionFilters"
    )[1].splitlines()[0], rep.text
    assert df.count() == 1

    # (tenant, value_month) layout: a date-ranged serving request must show
    # BOTH partition columns in PartitionFilters (path pruning, not just
    # row-group stats) when the frame carries the derived month column —
    # and the result must equal the un-pruned read (the widened month
    # predicate only prunes paths; value_date decides rows)
    pruned = wh.transfers(
        store.read("transfer", keep_derived=True),
        tenant="P1",
        value_date_gte="2020-01-01T00:00:00",
        value_date_lt="2020-02-01T00:00:00",
    )
    rep = plan_report(pruned)
    pf_line = rep.text.split("PartitionFilters")[1].splitlines()[0]
    assert "tenant" in pf_line and "value_month" in pf_line, rep.text
    assert "value_month" not in pruned.columns  # storage detail never surfaces
    plain = wh.transfers(
        store.read("transfer"),
        tenant="P1",
        value_date_gte="2020-01-01T00:00:00",
        value_date_lt="2020-02-01T00:00:00",
    )
    assert pruned.collect() == plain.collect()


def test_promo_revenue_broadcasts_part_and_prunes(spark):
    df = analytics.promo_revenue_by_month(
        cat.load_table(spark, SF_DIR, "lineitem"),
        cat.load_table(spark, SF_DIR, "part"),
    )
    rep = plan_report(df)
    assert rep.broadcast_joins >= 1, rep.text
    assert rep.cartesian_products == 0, rep.text
    cols = rep.scans_column_count("part")
    assert cols is not None and cols <= 2, rep.text  # p_partkey + p_type only


def test_customer_order_histogram_prunes_orders_to_key(spark):
    df = analytics.customer_order_histogram(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "orders"),
    )
    rep = plan_report(df)
    # agg-then-join: the orders scan feeds a count-only agg → single column
    assert rep.scans_column_count("orders") == 1, rep.text
    assert rep.cartesian_products == 0, rep.text


def test_dormant_customers_anti_join_filtered_prejoin(spark):
    df = analytics.dormant_customers(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "orders"),
    )
    rep = plan_report(df)
    assert "LeftAnti" in rep.text, rep.text
    # the anti side is filtered+projected BEFORE any exchange: date filter
    # pushed to the orders scan, which reads only key+date
    assert any("o_orderdate" in f for f in rep.pushed_filters), rep.text
    cols = rep.scans_column_count("orders")
    assert cols is not None and cols <= 2, rep.text


def test_small_quantity_revenue_semi_join_and_pushdown(spark):
    df = analytics.small_quantity_revenue(
        cat.load_table(spark, SF_DIR, "lineitem"),
        cat.load_table(spark, SF_DIR, "part"),
    )
    rep = plan_report(df)
    assert "LeftSemi" in rep.text, rep.text
    assert any("p_brand" in f for f in rep.pushed_filters), rep.text
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 3, rep.text  # partkey, qty, price


def test_union_topk_uses_take_ordered(spark):
    df = analytics.acctbal_extremes_union(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "supplier"),
    )
    rep = plan_report(df)
    # each side is a global top-k, never a full sort-then-limit
    assert rep.text.count("TakeOrderedAndProject") >= 2, rep.text


def test_ivf_corpus_assignment_is_map_side(spark):
    from data_warehouse_spark.operators import similarity

    emb = cat.load_table(spark, SF_DIR, "embeddings")
    df = similarity.ivf_topk(emb, [0, 1, 2], k=5)
    rep = plan_report(df)
    # probe side broadcast; corpus never shuffles to find its cell — the
    # exchanges are the probe-ranking window, the top-k window (query_id)
    # and the final order. The one nested-loop join is the INTENTIONAL
    # |queries|×n_cells centroid-ranking cross product (16-row broadcast).
    assert rep.broadcast_joins >= 1, rep.text
    assert rep.cartesian_products <= 1, rep.text
    assert rep.exchanges <= 4, rep.text


def test_hash_sample_is_shuffle_free(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.stratified_hash_sample(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.exchanges == 0, rep.text  # pure map-side filter
    cols = rep.scans_column_count("documents")
    assert cols is not None and cols <= 2, rep.text  # doc_id + lang only


def test_repetition_profile_is_shuffle_free(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.repetition_profile(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.exchanges == 0, rep.text


def test_pack_sequences_single_shuffle(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.pack_sequences(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    # one exchange: the per-shard window. A global (single-partition) window
    # would also show one exchange but SinglePartition — assert the
    # partitioning carries the shard key.
    assert rep.exchanges == 1, rep.text
    assert "hashpartitioning(shard" in rep.text, rep.text


def test_contamination_no_cartesian_and_pruned(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.benchmark_contamination(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.cartesian_products == 0, rep.text
    cols = rep.scans_column_count("documents")
    assert cols is not None and cols <= 2, rep.text  # doc_id + text


def test_pii_scrub_is_shuffle_free(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.pii_scrub(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.exchanges == 0, rep.text  # regex chain is pure map-side


def test_mixture_split_is_shuffle_free_and_pruned(spark):
    from data_warehouse_spark.operators import text_analysis

    df = text_analysis.mixture_split(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert rep.exchanges == 0, rep.text
    cols = rep.scans_column_count("documents")
    assert cols is not None and cols <= 2, rep.text  # doc_id + source only


def test_paragraph_dedup_two_key_shuffles_no_cartesian(spark):
    """Paragraph dedup's only shuffles are the paragraph-key window and the
    doc-grain re-agg (plus the output sort); no join at all, so a corpus
    never pairs with itself."""
    from data_warehouse_spark.operators import dedup

    df = dedup.paragraph_dedup(cat.load_table(spark, SF_DIR, "documents"))
    rep = plan_report(df)
    assert "CartesianProduct" not in rep.text
    assert "Join" not in rep.text  # window+agg pipeline, not a self-join
    assert rep.exchanges <= 3, rep.text


def test_semantic_dedup_joins_on_cell_only(spark):
    """SemDeDup must pair vectors within a cell via an equi-join on the
    cell id — never an all-pairs cartesian over the corpus."""
    from data_warehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = similarity.semantic_dedup(emb, threshold=0.4, n_cells=8)
    rep = plan_report(df)
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoopJoin" not in rep.text


# --- deep TPC-H shapes --------------------------------------------------------


def test_min_cost_supplier_filters_prejoin_no_cartesian(spark):
    df = analytics.min_cost_supplier(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    # region/type filters reach the dim scans; the fact never cross-joins
    assert any("r_name" in f for f in rep.pushed_filters), rep.text
    assert any("p_type" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text
    # per-part argmin is ONE lexicographic struct-min aggregate — the
    # two-phase groupBy-pair + rank window (second shuffle) must not return
    assert "Window" not in rep.text, rep.text


def test_top_revenue_suppliers_no_global_sort_before_agg(spark):
    df = analytics.top_revenue_suppliers(
        cat.load_table(spark, SF_DIR, "supplier"),
        cat.load_table(spark, SF_DIR, "lineitem"),
    )
    rep = plan_report(df)
    # the scalar max joins back as a broadcast (1-row build side) — the
    # per-supplier table is never globally sorted or window-scanned
    assert rep.broadcast_joins >= 1, rep.text
    assert "Window" not in rep.text, rep.text
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_large_quantity_orders_aggregates_before_joins(spark):
    df = analytics.large_quantity_orders(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "orders"),
        cat.load_table(spark, SF_DIR, "lineitem"),
    )
    rep = plan_report(df)
    # the having filter runs on the aggregate output (sum_qty), never as a
    # post-join filter over fact rows; lineitem scan pruned to 2 columns
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 2, rep.text
    assert rep.cartesian_products == 0, rep.text


def test_idle_rich_customers_broadcast_scalar_and_anti_join(spark):
    df = analytics.idle_rich_customers(
        cat.load_table(spark, SF_DIR, "customer"),
        cat.load_table(spark, SF_DIR, "orders"),
    )
    rep = plan_report(df)
    # orders participates only via its key column
    cols = rep.scans_column_count("orders")
    assert cols is not None and cols <= 1, rep.text
    assert any("c_acctbal" in f for f in rep.pushed_filters), rep.text


def test_market_share_semi_joins_and_pruning(spark):
    df = analytics.market_share(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    assert any("p_type" in f for f in rep.pushed_filters), rep.text
    assert any("r_name" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text
    # lineitem contributes only join keys + measures (5 columns)
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 5, rep.text


def test_nation_profit_broadcasts_dims_single_fact_shuffle_join(spark):
    df = analytics.nation_profit(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    # part (filtered), supplier+nation are broadcast; the only non-broadcast
    # join is lineitem↔orders
    assert rep.broadcast_joins >= 2, rep.text
    assert any("p_name" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_supplier_counts_distinct_agg_broadcast_exclusions(spark):
    df = analytics.supplier_counts_by_part(
        cat.load_table(spark, SF_DIR, "part"),
        cat.load_table(spark, SF_DIR, "supplier"),
        cat.load_table(spark, SF_DIR, "lineitem"),
    )
    rep = plan_report(df)
    assert rep.broadcast_joins >= 1, rep.text
    assert any("p_brand" in f or "p_type" in f for f in rep.pushed_filters), rep.text
    # fact scan pruned to the two relation keys
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 2, rep.text


def test_disjunctive_revenue_or_envelope_pushed(spark):
    df = analytics.disjunctive_revenue(
        cat.load_table(spark, SF_DIR, "lineitem"),
        cat.load_table(spark, SF_DIR, "part"),
    )
    rep = plan_report(df)
    # the common qty envelope and the brand IN-list reach the scans
    assert any("l_quantity" in f for f in rep.pushed_filters), rep.text
    assert any("p_brand" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_returned_item_revenue_agg_before_dim_joins(spark):
    df = analytics.returned_item_revenue(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    assert any("l_returnflag" in f for f in rep.pushed_filters), rep.text
    assert any("o_orderdate" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_sole_supplier_orders_no_fact_self_join(spark):
    df = analytics.sole_supplier_orders(
        cat.load_table(spark, SF_DIR, "supplier"),
        cat.load_table(spark, SF_DIR, "orders"),
        cat.load_table(spark, SF_DIR, "lineitem"),
    )
    rep = plan_report(df)
    # the correlated NOT-EXISTS decorrelates to ONE scan of lineitem — the
    # fact must not appear twice (no self semi/anti join of lineitem);
    # scan detail headers name the file list, so count lineitem scans there
    import re

    li_scans = sum(
        "lineitem" in m
        for m in re.findall(r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]*\n){1,6}", rep.text)
    )
    assert li_scans == 1, rep.text
    assert any("o_orderstatus" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_forecast_revenue_change_scan_only(spark):
    df = analytics.forecast_revenue_change(cat.load_table(spark, SF_DIR, "lineitem"))
    rep = plan_report(df)
    # pure scan-aggregate: date + qty predicates reach the scan, no join at
    # all, fact pruned to the 4 referenced columns
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert any("l_quantity" in f for f in rep.pushed_filters), rep.text
    assert "Join" not in rep.text, rep.text
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 4, rep.text


def test_nation_pair_volume_broadcast_dims_single_fact_join(spark):
    df = analytics.nation_pair_volume(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    # nation-filtered supplier and customer sides broadcast; the only
    # shuffle join is lineitem↔orders on orderkey
    assert rep.broadcast_joins >= 2, rep.text
    assert any("n_name" in f for f in rep.pushed_filters), rep.text
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_important_part_values_single_fact_scan_broadcast_total(spark):
    df = analytics.important_part_values(cat.load_table(spark, SF_DIR, "lineitem"))
    # the final AQE plan is the one that matters: both consumers of the
    # per-part aggregate prune identical columns, so AQE's exchange reuse
    # collapses the second fact scan into a ReusedExchange
    rep = plan_report(df, run_first=True)
    # count scan NODES in the final AQE tree only — the "Initial Plan"
    # section the explain keeps around still shows the pre-reuse shape
    final_tree = rep.text.split("== Initial Plan ==")[0]
    assert final_tree.count("Scan parquet") == 1, rep.text
    assert "ReusedExchange" in final_tree, rep.text
    # the scalar total joins back as a 1-row broadcast nested-loop (the
    # intended shape for a scalar subquery — never a shuffle)
    assert "BroadcastNestedLoopJoin" in final_tree, rep.text
    cols = rep.scans_column_count("lineitem")
    assert cols is not None and cols <= 3, rep.text


def test_late_shipment_priority_pushdown_and_single_join(spark):
    df = analytics.late_shipment_priority(
        cat.load_table(spark, SF_DIR, "lineitem"),
        cat.load_table(spark, SF_DIR, "orders"),
    )
    rep = plan_report(df)
    # the ship-date window pushes to the lineitem scan even though the
    # lateness predicate itself needs both sides of the join
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text
    cols = rep.scans_column_count("orders")
    assert cols is not None and cols <= 3, rep.text


def test_excess_supply_suppliers_one_fact_scan_semi_join(spark):
    import re

    df = analytics.excess_supply_suppliers(cat.load_all(spark, SF_DIR))
    rep = plan_report(df)
    # nested-IN decorrelation: the fact aggregates once; the per-part total
    # comes from re-aggregating that small table, never a second fact scan
    li_scans = sum(
        "lineitem" in m
        for m in re.findall(r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]*\n){1,6}", rep.text)
    )
    assert li_scans == 1, rep.text
    assert any("p_name" in f for f in rep.pushed_filters), rep.text
    assert any("l_shipdate" in f for f in rep.pushed_filters), rep.text
    assert rep.cartesian_products == 0, rep.text


def test_band_join_is_equi_join_not_nested_loop(spark):
    from data_warehouse_spark.operators import windows as W

    df = W.band_join_pairs(cat.load_table(spark, SF_DIR, "events"))
    rep = plan_report(df)
    # the band-bucket rewrite must plan as an equi-join on (user, bucket)
    # — never the nested-loop a raw theta-join would produce
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text
    assert rep.cartesian_products == 0, rep.text
    assert (
        rep.sortmerge_joins + rep.shuffle_hash_joins + rep.broadcast_joins >= 1
    ), rep.text
    # type filters reach both scans
    assert any("event_type" in f for f in rep.pushed_filters), rep.text


def test_band_join_matches_naive_theta_join(spark):
    """The bucketed equi-join must equal the literal theta-join — every
    pair exactly once, including pairs whose endpoints straddle a bucket
    boundary."""
    from data_warehouse_spark.operators import windows as W

    events = cat.load_table(spark, SF_DIR, "events")
    fast = W.band_join_pairs(events, band_minutes=60)
    l = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("t_l")
    )
    r = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("t_r"),
    )
    naive = (
        l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("t_r") > F.col("t_l"))
            & (F.col("t_r") <= F.col("t_l") + F.expr("INTERVAL 60 MINUTES")),
        )
        .select(
            "user_id",
            "left_id",
            "right_id",
            (F.unix_micros("t_r") - F.unix_micros("t_l")).alias("dt_us"),
        )
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_rolling_and_densify_window_over_daily_grain_only(spark):
    """Both calendar operators scan the fact exactly once, in-plan.
    Rolling windows directly over its daily aggregate; densify (r11
    gap-explode form) consumes the daily grain once — one fact scan, one
    per-type window carrying both the forward fill and the gap lead, a
    Generate for the calendar explode, and NO join or per-call checkpoint
    (the old two-consumer shape needed a parquet checkpoint to avoid a
    double fact scan)."""
    import re

    from data_warehouse_spark.operators import windows

    events = cat.load_table(spark, SF_DIR, "events")

    def scans(rep, substr):
        return sum(
            substr in m
            for m in re.findall(
                r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]*\n){1,6}", rep.text
            )
        )

    rep = plan_report(windows.rolling_daily_activity(events))
    assert scans(rep, "events.parquet") == 1, rep.text
    assert "Window" in rep.text and "HashAggregate" in rep.text, rep.text

    rep = plan_report(windows.densify_daily_activity(events))
    assert scans(rep, "events.parquet") == 1, rep.text  # one in-plan scan
    assert len(re.findall(r"\(\d+\) Scan parquet", rep.text)) == 1, rep.text
    assert "Window" in rep.text and "Generate" in rep.text, rep.text
    assert rep.sortmerge_joins + rep.broadcast_joins + rep.shuffle_hash_joins == 0, rep.text
    assert rep.cartesian_products == 0, rep.text


def test_anomalous_hours_moment_join_broadcast(spark):
    df = analytics.anomalous_hours(cat.load_table(spark, SF_DIR, "events"))
    rep = plan_report(df)
    # r11: the per-type moments ride a window over the hourly grain —
    # one in-plan events scan, one Window, NO join and NO per-call
    # checkpoint (the old rollup+broadcast shape needed one)
    assert "Window" in rep.text, rep.text
    assert rep.broadcast_joins + rep.sortmerge_joins + rep.shuffle_hash_joins == 0, rep.text
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", rep.text)) == 1, rep.text
    assert rep.cartesian_products == 0, rep.text
