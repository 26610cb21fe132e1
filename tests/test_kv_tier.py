"""KV serving tier (api/kv_tier.py): the documented swap point past the
snapshot cache's memory bound, proved here on three axes —

* **Equivalence through the public surface**: with every snapshot
  disabled (``max_rows=0``) the same GraphQL queries must produce JSON
  identical to the pure Spark paths, while the counters prove the KV
  tier (not Spark) actually served the dimension lookups.
* **Freshness**: the rollup KV reads honor the same
  ``balance_view.freshness_token`` contract as the snapshot — a merge
  the maintenance has not seen refuses the tier entirely.
* **Pruning**: on a sorted multi-row-group table a point lookup reads
  ~one row group and skips the rest (the property that makes the tier
  O(row group), not O(table), at any account count).
"""

from __future__ import annotations

import pytest

import datetime
import decimal

from data_warehouse_spark.api.graphql_schema import execute
from data_warehouse_spark.api.serving_cache import ServingCache
from data_warehouse_spark.operators import balance_view
from data_warehouse_spark.schemas import ACCOUNT_SCHEMA
from data_warehouse_spark.sources.tables import TableStore
from data_warehouse_spark.streaming.ingest import (
    ABC_PRIMARY_KEYS,
    IngestionPipeline,
    ingest_abc_schema,
    warehouse_store,
)
from tests.test_serving_cache import QUERIES, _fixture

# ingest/serving e2e tier: full-pipeline ticks / HTTP / store e2e
# (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow


def _ticked(spark, tmp_path):
    root = str(tmp_path / "primary")
    _fixture(root)
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()
    return store


def _kv_only_cache(store) -> ServingCache:
    """max_rows=0: every in-memory snapshot refuses, so dimension serving
    can only come from the KV tier (or degrade to Spark)."""
    return ServingCache(store, max_rows=0)


def test_kv_paths_equal_spark_paths(spark, tmp_path):
    store = _ticked(spark, tmp_path)
    cache = _kv_only_cache(store)
    assert cache.accounts() is None  # snapshots disabled — KV must carry
    for q in QUERIES:
        with_kv = execute(store, q, cache=cache)
        without = execute(store, q)
        assert with_kv.errors is None and without.errors is None, q
        assert with_kv.data == without.data, q
    # the tier actually served: account point reads, rollup point reads,
    # and at least one tenant page materialization
    assert cache.counters["kv_lookup:account"] > 0
    assert cache.counters[f"kv_lookup:{balance_view.ROLLUP_TABLE}"] > 0
    assert cache.counters["kv_page_load"] > 0


def test_kv_point_lookups_and_missing_keys(spark, tmp_path):
    store = _ticked(spark, tmp_path)
    cache = _kv_only_cache(store)
    keys = [
        ("CACHE_TRN", "CREDIT"),
        ("CACHE_TRN", "MISSING"),
        ("CACHE_ACC", "ZZ"),
    ]
    details = cache.kv_account_details(keys)
    assert details is not None
    assert details[("CACHE_TRN", "CREDIT")] == ("CZK", "FORMAT")
    assert details[("CACHE_ACC", "ZZ")] == ("EUR", "FORMAT")
    assert ("CACHE_TRN", "MISSING") not in details
    balances = cache.kv_balances(keys)
    assert balances is not None
    assert balances[("CACHE_TRN", "CREDIT")] == decimal.Decimal("1.00")
    # zero-activity account: absent from the rollup → caller coalesces to
    # 0.00 exactly like the snapshot's .get(k, 0)
    assert ("CACHE_ACC", "ZZ") not in balances


def test_kv_balances_fresh_across_maintenance_gap(spark, tmp_path):
    """A change-table merge the maintenance has not folded used to force
    the Spark fallback; the stale-window path now serves the FRESH value
    (maintained rollup + exact Arrow delta over the appended files) with
    zero Spark jobs — stale-and-served stays impossible because the
    served value equals the direct SUM, and the window token pins it."""
    store = _ticked(spark, tmp_path)
    cache = _kv_only_cache(store)
    assert cache.kv_balances([("CACHE_TRN", "CREDIT")]) == {
        ("CACHE_TRN", "CREDIT"): decimal.Decimal("1.00")
    }
    batch = spark.createDataFrame(
        [("CACHE_TRN", "CREDIT", datetime.datetime(2020, 1, 2),
          decimal.Decimal("2"), "CACHE_TRN", "TRN9", "t1", "c")],
        ingest_abc_schema(),
    )
    store.merge_insert_missing(balance_view.ABC_TABLE, batch, ABC_PRIMARY_KEYS)
    # rollup is stale, yet the tier answers the FRESH value via the window
    assert balance_view.freshness_token(store) is None
    win = balance_view.stale_window(store)
    assert win is not None and win[0].startswith("window:")
    mid = cache.kv_balances([("CACHE_TRN", "CREDIT")])
    assert mid == {("CACHE_TRN", "CREDIT"): decimal.Decimal("3.00")}
    assert cache.counters["kv_balance_window"] >= 1
    # a pin from the fresh epoch refuses (torn-read guard)
    assert cache.kv_balances([("CACHE_TRN", "CREDIT")], pinned="stale-pin") is None
    balance_view.maintain(store)
    fresh = cache.kv_balances([("CACHE_TRN", "CREDIT")])
    assert fresh[("CACHE_TRN", "CREDIT")] == decimal.Decimal("3.00")
    # after an overwrite (version swap — not an append) the window refuses
    store.overwrite(
        balance_view.ABC_TABLE, store.read(balance_view.ABC_TABLE)
    )
    assert balance_view.stale_window(store) is None


def test_kv_account_mutation_visible_after_fingerprint_move(spark, tmp_path):
    store = _ticked(spark, tmp_path)
    cache = _kv_only_cache(store)
    before = cache.kv_account_details([("CACHE_ACC", "ZZ")])
    assert before[("CACHE_ACC", "ZZ")] == ("EUR", "FORMAT")
    upd = spark.createDataFrame(
        [("CACHE_ACC", "ZZ", "USD", "FORMAT_V", 0, 0)], ACCOUNT_SCHEMA
    )
    store.merge_upsert("account", upd, ["tenant", "name"])
    after = cache.kv_account_details([("CACHE_ACC", "ZZ")])
    assert after[("CACHE_ACC", "ZZ")] == ("USD", "FORMAT_V")
    assert cache.counters["kv_index_build:account"] >= 2  # rebuilt on move


def test_kv_rowgroup_pruning_on_sorted_table(spark, tmp_path):
    """Sorted-on-publish + small row groups → a point lookup decodes ~one
    group. 64 KiB groups over ~12k rows give many groups; the counter pins
    that most were skipped via min/max stats, not read-and-filtered."""
    store = TableStore(
        spark,
        str(tmp_path / "wh"),
        {"account": ACCOUNT_SCHEMA},
        partitions={"account": ["tenant"]},
        cluster_by={"account": ["name"]},
        block_size={"account": 64 * 1024},
    )
    rows = [
        ("big", f"ACC{i:07d}", "CZK", f"FMT{i % 7}", 0, 0) for i in range(12000)
    ]
    store.overwrite("account", spark.createDataFrame(rows, ACCOUNT_SCHEMA))
    cache = _kv_only_cache(store)
    hit = cache.kv_account_details([("big", "ACC0007777")])
    assert hit[("big", "ACC0007777")] == ("CZK", f"FMT{7777 % 7}")
    read = cache.counters["kv_rowgroups_read"]
    skipped = cache.counters["kv_rowgroups_skipped"]
    assert read + skipped >= 4, "fixture should span several row groups"
    assert skipped > read, f"pruning inert: read={read} skipped={skipped}"


def test_kv_accounts_page_sorted_filtered_bounded(spark, tmp_path):
    store = _ticked(spark, tmp_path)
    cache = _kv_only_cache(store)
    rows = cache.kv_accounts_page("CACHE_TRN", limit=None)
    assert [r[0] for r in rows] == ["CREDIT", "DEBIT", "IDLE"]  # name-sorted
    assert all(len(r) == 3 for r in rows)
    # offset/limit slice the sorted order (the paginate contract)
    assert [r[0] for r in cache.kv_accounts_page("CACHE_TRN", limit=1, offset=1)] == ["DEBIT"]
    assert cache.kv_accounts_page("CACHE_TRN", limit=2, offset=5) == []
    # equality filters apply BEFORE the page window, Arrow-side
    assert cache.kv_accounts_page("CACHE_TRN", currency="XXX", limit=None) == []
    assert len(cache.kv_accounts_page("CACHE_TRN", currency="CZK", limit=None)) == 3
    # other tenant's rows never leak into the page source
    assert cache.kv_accounts_page("CACHE_ACC", limit=None) == [("ZZ", "EUR", "FORMAT")]
    # repeat serve slices the LRU-kept Arrow table, not a re-read
    cache.kv_accounts_page("CACHE_TRN", limit=5)
    assert cache.counters["kv_page_hit"] >= 1
    # per-tenant bound: a tenant too large for the page cache refuses
    # (point lookups keep working at any size — asserted above)
    cache.kv.max_tenant_rows = 1
    cache.kv._tenant_rows.clear()
    assert cache.kv_accounts_page("CACHE_TRN") is None


def test_kv_match_rows_returns_all_duplicate_names():
    """Flat (unpartitioned) layouts hold the SAME name for several tenants
    in one sorted file; the bisect must return EVERY contiguous equal row,
    not just the first — the lookup loop disambiguates by tenant, so a
    one-row take silently served only one tenant (r8 review finding)."""
    import pyarrow as pa

    from data_warehouse_spark.api.kv_tier import KVTier

    class _Shim:
        key_col = "name"

    tbl = pa.table(
        {
            "name": ["A", "B", "B", "B", "C"],
            "tenant": ["t1", "t1", "t2", "t3", "t1"],
        }
    )
    got = KVTier._match_rows(_Shim(), tbl, {"B"})
    assert got.num_rows == 3
    assert sorted(got.column("tenant").to_pylist()) == ["t1", "t2", "t3"]
    # multiple names, mixed multiplicity
    got2 = KVTier._match_rows(_Shim(), tbl, {"A", "B"})
    assert got2.num_rows == 4


def test_kv_lookup_same_name_two_tenants_flat_layout(spark, tmp_path):
    """End-to-end witness on a real flat store: two tenants sharing an
    account name must BOTH be served by a single KV lookup."""
    from data_warehouse_spark.api.serving_cache import ServingCache
    from data_warehouse_spark.schemas import ACCOUNT_SCHEMA
    from data_warehouse_spark.sources.tables import TableStore

    # no partition spec → flat layout (one sorted file, tenant as a column)
    store = TableStore(
        spark,
        str(tmp_path / "wh"),
        {"account": ACCOUNT_SCHEMA},
        cluster_by={"account": ["name"]},
    )
    rows = [
        ("t1", "SHARED", "CZK", "F1", 0, 0),
        ("t2", "SHARED", "EUR", "F2", 0, 0),
        ("t1", "OTHER", "USD", "F3", 0, 0),
    ]
    store.overwrite("account", spark.createDataFrame(rows, ACCOUNT_SCHEMA))
    cache = ServingCache(store, max_rows=0)
    got = cache.kv_account_details([("t1", "SHARED"), ("t2", "SHARED")])
    assert got is not None
    assert got[("t1", "SHARED")] == ("CZK", "F1")
    assert got[("t2", "SHARED")] == ("EUR", "F2")


def test_kv_transfers_page_equals_spark_page(spark, tmp_path):
    """The Arrow fact-page tier must reproduce wh.transfers row-for-row on
    every supported shape (tenant page, currency/status eq, offset) across
    a MULTI-FILE month-partitioned layout — files stream in cluster_by
    order and the page is the bounded union's sort, so equality here pins
    the 'first offset+limit rows per file suffice' argument."""
    import datetime as dt
    import decimal as dec
    import random

    from data_warehouse_spark.api.serving_cache import ServingCache
    from data_warehouse_spark.operators import queries as wh
    from data_warehouse_spark.streaming.ingest import warehouse_store

    store = warehouse_store(spark, str(tmp_path / "wh"))
    rng = random.Random(5)
    rows = []
    for i in range(600):
        t = f"T{i % 3}"
        rows.append(
            (
                t,
                f"TRN{rng.randrange(400):04d}",
                f"TRX{i:04d}",
                rng.choice([0, 1, 2]),
                t,
                f"A{i % 7}",
                t,
                f"B{i % 5}",
                dec.Decimal(str(rng.randrange(1, 9999))) / 100,
                rng.choice(["CZK", "EUR"]),
                dt.datetime(2020, 1 + (i % 12), 1 + (i % 28)),
            )
        )
    df = spark.createDataFrame(rows, store.schemas["transfer"])
    store.overwrite("transfer", df)
    cache = ServingCache(store)
    tdf = store.read("transfer", keep_derived=True)

    def spark_page(**kw):
        return [
            (
                r["transaction"], r["transfer"], r["status"], r["amount"],
                r["currency"], r["value_date"],
                r["credit_tenant"], r["credit_name"],
                r["debit_tenant"], r["debit_name"],
            )
            for r in wh.transfers(tdf, **kw).collect()
        ]

    def kv_page(**kw):
        got = cache.kv_transfers_page(
            kw["tenant"], currency=kw.get("currency"),
            status=kw.get("status"), limit=kw.get("limit"),
            offset=kw.get("offset", 0),
        )
        assert got is not None
        return [
            (
                r["transaction"], r["transfer"], r["status"], r["amount"],
                r["currency"], r["value_date"],
                r["credit_tenant"], r["credit_name"],
                r["debit_tenant"], r["debit_name"],
            )
            for r in got
        ]

    shapes = [
        {"tenant": "T0", "limit": 50},
        {"tenant": "T1", "limit": 25, "offset": 10},
        {"tenant": "T2", "limit": 1000},
        {"tenant": "T0", "currency": "CZK", "limit": 40},
        {"tenant": "T1", "status": 1, "limit": 30, "offset": 5},
        {"tenant": "T2", "currency": "EUR", "status": 2, "limit": 20},
        {"tenant": "MISSING", "limit": 10},
    ]
    for kw in shapes:
        assert kv_page(**kw) == spark_page(**kw), kw
    # range shapes are declined (Spark path owns COMPAT semantics)
    assert (
        cache.kv_transfer.sorted_page(
            "transfer", None, "T0", ["transaction"], ["transfer"], limit=5
        )
        is None
    )
