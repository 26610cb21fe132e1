"""Serving-tier dimension snapshots: fingerprint-fresh-or-fallback, and
bit-equal output against the Spark resolver paths they shortcut.

Equivalence is asserted through the PUBLIC GraphQL surface — the same
query executed with and without the cache must produce identical JSON —
so a divergence anywhere (pagination, filters, decimal scale, zero
defaults, missing keys) fails, not just in the unit the snapshot
replaces."""

from __future__ import annotations

import pytest

import decimal
import os

from data_warehouse_spark.api.graphql_schema import execute
from data_warehouse_spark.api.serving_cache import ServingCache
from data_warehouse_spark.operators import balance_view
from data_warehouse_spark.streaming.ingest import IngestionPipeline, warehouse_store

# ingest/serving e2e tier: full-pipeline ticks / HTTP / store e2e
# (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow


def write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(content)


def _fixture(root: str) -> None:
    """Two tenants; one with a committed transfer (signed balances), one
    with a zero-activity account — the golden shapes."""
    t = "t_CACHE_TRN"
    for a in ("CREDIT", "DEBIT", "IDLE"):
        write(os.path.join(root, t, "account", a, "snapshot", "0000000000"), "CZK FORMAT_T\n")
    write(
        os.path.join(root, t, "transaction", "TRN"),
        "committed\nTRX CACHE_TRN CREDIT CACHE_TRN DEBIT 2020-01-01T00:00:00Z 1 CZK\n",
    )
    write(os.path.join(root, t, "account", "CREDIT", "events", "0000000000", "1_1_TRN"), "1\n")
    write(os.path.join(root, t, "account", "DEBIT", "events", "0000000000", "1_-1_TRN"), "1\n")
    t2 = "t_CACHE_ACC"
    write(os.path.join(root, t2, "account", "ZZ", "snapshot", "0000000000"), "EUR FORMAT_U\n")


QUERIES = [
    "query { tenants(limit: 1000, offset: 0) { name } }",
    "query { tenants(limit: 1, offset: 1) { name } }",
    'query { tenant(tenant: "CACHE_TRN") { name } }',
    'query { tenant(tenant: "NOPE") { name } }',
    'query { accounts(tenant: "CACHE_TRN", limit: 1000, offset: 0) '
    "{ name currency format balance } }",
    'query { accounts(tenant: "CACHE_TRN", limit: 2, offset: 1) { name balance } }',
    'query { accounts(tenant: "CACHE_TRN", currency: "CZK", format: "FORMAT_T") { name } }',
    'query { accounts(tenant: "CACHE_TRN", currency: "XXX") { name } }',
    'query { accounts(tenant: "CACHE_ACC") { name currency balance } }',
    'query { account(tenant: "CACHE_TRN", name: "CREDIT") { balance currency } }',
    'query { account(tenant: "CACHE_TRN", name: "MISSING") { balance } }',
    'query { transfers(tenant: "CACHE_TRN", limit: 10, offset: 0) '
    "{ transaction amount credit { name balance } debit { name balance } } }",
]


def _ticked_store(spark, tmp_path):
    root = str(tmp_path / "primary")
    _fixture(root)
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()
    return store


def test_cache_paths_equal_spark_paths(spark, tmp_path):
    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store)
    # precondition: every snapshot actually engages (fresh after the tick)
    assert cache.tenant_names() is not None
    assert cache.accounts() is not None
    assert cache.balances() is not None
    for q in QUERIES:
        with_cache = execute(store, q, cache=cache)
        without = execute(store, q)
        assert with_cache.errors is None and without.errors is None, q
        assert with_cache.data == without.data, q


def test_cache_refuses_stale_and_reloads(spark, tmp_path):
    """A merge the cache has not seen flips the fingerprint: balances
    refuse (never stale-and-served); after the next maintenance the
    reloaded snapshot serves the NEW value."""
    import datetime

    from data_warehouse_spark.streaming.ingest import (
        ABC_PRIMARY_KEYS,
        ingest_abc_schema,
    )

    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store)
    before = cache.balances()
    assert before[("CACHE_TRN", "CREDIT")] == decimal.Decimal("1.00")
    batch = spark.createDataFrame(
        [("CACHE_TRN", "CREDIT", datetime.datetime(2020, 1, 2),
          decimal.Decimal("2"), "CACHE_TRN", "TRN9", "t1", "c")],
        ingest_abc_schema(),
    )
    store.merge_insert_missing(balance_view.ABC_TABLE, batch, ABC_PRIMARY_KEYS)
    assert cache.balances() is None  # stale → refused
    balance_view.maintain(store)
    assert cache.balances()[("CACHE_TRN", "CREDIT")] == decimal.Decimal("3.00")
    # account dimension snapshot is independent and still fresh
    assert cache.accounts() is not None


def test_cache_over_max_rows_falls_back(spark, tmp_path):
    """Above the memory bound the loader refuses and the GraphQL output
    is served by the Spark path — identical either way."""
    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store, max_rows=1)
    assert cache.accounts() is None
    assert cache.balances() is None
    q = 'query { accounts(tenant: "CACHE_TRN") { name balance } }'
    assert execute(store, q, cache=cache).data == execute(store, q).data


def _commit_second_transfer(spark, tmp_path, store) -> None:
    """One ingest tick that lands a second CACHE_TRN transfer."""
    root = str(tmp_path / "primary")
    write(
        os.path.join(root, "t_CACHE_TRN", "transaction", "TRN2"),
        "committed\nTRX2 CACHE_TRN CREDIT CACHE_TRN DEBIT 2020-02-01T00:00:00Z 5 CZK\n",
    )
    write(os.path.join(root, "t_CACHE_TRN", "account", "CREDIT", "events",
                       "0000000000", "1_1_TRN2"), "2\n")
    write(os.path.join(root, "t_CACHE_TRN", "account", "DEBIT", "events",
                       "0000000000", "1_-1_TRN2"), "2\n")
    assert IngestionPipeline(spark, root, store).run_once().transfers_discovered == 1


def _no_loader():
    raise AssertionError("an equality shape must not reach the Spark loader")


def test_transfer_page_cache_hits_and_invalidates(spark, tmp_path):
    """A transfers page through the cache equals the uncached Spark answer,
    before and after a tick, and the tick's new transfer is visible to the
    first read after it (no page outlives the table it was read from)."""
    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store)
    q = (
        'query { transfers(tenant: "CACHE_TRN", limit: 10, offset: 0) '
        "{ transaction amount credit { name balance } debit { name balance } } }"
    )
    first = execute(store, q, cache=cache)
    assert first.data == execute(store, q).data
    assert len(first.data["transfers"]) == 1

    _commit_second_transfer(spark, tmp_path, store)
    after = execute(store, q, cache=cache)
    assert after.data == execute(store, q).data
    assert len(after.data["transfers"]) == 2  # the new transfer is visible


def test_transfer_page_cache_respects_row_bound(spark, tmp_path):
    """A page past ``max_page_rows`` is refused by the KV tier and served
    by the Spark loader, with the same answer."""
    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store, max_page_rows=0)
    q = 'query { transfers(tenant: "CACHE_TRN", limit: 10) { transaction } }'
    assert execute(store, q, cache=cache).data == execute(store, q).data
    assert cache.counters["kv_page:transfer"] == 0


def test_transfer_page_follower_served_stale_during_reload(spark, tmp_path):
    """No previous generation is served across a commit: a reader that
    arrives while a slow Spark page is in flight, and every reader after a
    tick, gets the committed table's rows, never an older page."""
    import threading

    store = _ticked_store(spark, tmp_path)
    cache = ServingCache(store)

    def eq_page():
        return cache.transfers_page("CACHE_TRN", None, None, False, 10, 0, _no_loader)

    assert [r["transaction"] for r in eq_page()] == ["TRN"]
    _commit_second_transfer(spark, tmp_path, store)

    release = threading.Event()
    entered = threading.Event()

    def slow_loader():
        entered.set()
        release.wait(timeout=60)
        return ["spark"]

    got = {}
    t = threading.Thread(target=lambda: got.update(ranged=cache.transfers_page(
        "CACHE_TRN", None, None, True, 10, 0, slow_loader)))
    t.start()
    assert entered.wait(timeout=60)
    # the range page is still loading: an equality reader is not held
    # behind it and sees both committed transfers
    assert sorted(r["transaction"] for r in eq_page()) == ["TRN", "TRN2"]
    release.set()
    t.join(timeout=60)
    assert got["ranged"] == ["spark"]


def test_transfers_page_routes_eq_shapes_to_kv_and_ranges_to_the_loader(spark, tmp_path):
    """``transfers_page`` serves a tenant + ``status`` shape from the KV
    tier with no Spark job, and hands an amount or ``valueDate`` range
    shape to the loader. Both answers equal ``wh.transfers``."""
    import datetime as dt

    from data_warehouse_spark.operators import queries as wh

    from .test_tablestore import _jobs_during

    store = warehouse_store(spark, str(tmp_path / "wh"))
    rows = [
        (
            "T", f"TRN{i:02d}", "TRX", i % 3, "T", f"A{i % 4}", "T", f"B{i % 5}",
            decimal.Decimal(i * 7 % 50) + decimal.Decimal("0.25"),
            "CZK" if i % 2 else "EUR", dt.datetime(2020, 1 + i % 12, 1 + i % 28),
        )
        for i in range(40)
    ]
    store.overwrite("transfer", spark.createDataFrame(rows, store.schemas["transfer"]))
    cache = ServingCache(store)
    tdf = store.read("transfer", keep_derived=True)
    cols = ("transaction", "transfer", "status", "credit_tenant", "credit_name",
            "debit_tenant", "debit_name", "amount", "currency", "value_date")

    def same(got, **kw):
        want = wh.transfers(tdf, tenant="T", limit=10, offset=2, **kw).collect()
        assert want, kw
        return [tuple(r[c] for c in cols) for r in got] == [
            tuple(r[c] for c in cols) for r in want
        ]

    got = {}
    jobs = _jobs_during(spark, lambda: got.update(
        eq=cache.transfers_page("T", None, 1, False, 10, 2, _no_loader)))
    assert jobs == set()
    assert same(got["eq"], status=1)

    calls = []
    for kw in ({"amount_gte": decimal.Decimal("20")},
               {"value_date_lt": dt.datetime(2020, 6, 1)}):
        def loader(kw=kw):
            calls.append(kw)
            return wh.transfers(tdf, tenant="T", limit=10, offset=2, **kw).collect()

        assert same(cache.transfers_page("T", None, None, True, 10, 2, loader), **kw)
    assert len(calls) == 2


def test_fake_store_without_versions_is_harmless(spark):
    """build_app-style unit fakes (no version plumbing) must degrade to
    the Spark path, not crash the cache."""

    class Fake:
        pass

    cache = ServingCache(Fake())
    assert cache.tenant_names() is None
    assert cache.accounts() is None
    assert cache.balances() is None


def test_torn_pin_served_from_window_history(spark, tmp_path):
    """r11: a request whose pinned window token was outrun by a mid-request
    adopt is served its exact PINNED state from the window-token history
    (snapshot isolation — the Postgres-MVCC read the reference gets),
    instead of falling back to the Spark path.  The pinned values must
    equal the pre-adopt state, EXCLUDING the later merge's rows."""
    import datetime

    from data_warehouse_spark.streaming.ingest import (
        ABC_PRIMARY_KEYS,
        ingest_abc_schema,
    )

    def _abc(spark, trn, amount):
        return spark.createDataFrame(
            [("CACHE_TRN", "CREDIT", datetime.datetime(2020, 1, 2),
              decimal.Decimal(amount), "CACHE_TRN", trn, "t1", "c")],
            ingest_abc_schema(),
        )

    store = _ticked_store(spark, tmp_path)
    balance_view.maintain(store)
    base = balance_view.freshness_token(store)
    assert base is not None

    # open a deferral window, capture its token as a request pin
    store.merge_insert_missing(balance_view.ABC_TABLE, _abc(spark, "W1", "2"), ABC_PRIMARY_KEYS)
    assert balance_view.maintain(store, defer_under_files=64) == "deferred"
    pin = balance_view.serving_token(store)
    assert pin is not None and pin.startswith("window:")

    # the tick lands mid-request: another adopt moves the live token
    store.merge_insert_missing(balance_view.ABC_TABLE, _abc(spark, "W2", "8"), ABC_PRIMARY_KEYS)
    assert balance_view.serving_token(store) != pin

    cache = ServingCache(store)
    keys = [("CACHE_TRN", "CREDIT")]
    served = cache.kv_balances(keys, pinned=pin)
    assert served is not None, "torn pin must serve from history, not None"
    # pinned state = initial 1.00 + W1's 2, WITHOUT W2's 8
    assert served[("CACHE_TRN", "CREDIT")] == decimal.Decimal("3.00")
    assert cache.counters["kv_balance_window_pinned"] == 1

    # unpinned: the LIVE window includes W2
    live = cache.kv_balances(keys)
    assert live[("CACHE_TRN", "CREDIT")] == decimal.Decimal("11.00")

    # after the rollup CONVERGES past the pin, the history must refuse
    # (kv index rebuild hazard) and the request takes the Spark path
    assert balance_view.maintain(store) == "delta"
    assert cache.kv_balances(keys, pinned=pin) is None


def test_refresh_revalidates_only_what_requests_read(spark, tmp_path):
    """A publish (ServingCache.refresh) after a commit reloads each
    snapshot a request read, submits no Spark job, and leaves the rest
    alone: an entry nobody read is not built, and a ``df:`` entry whose
    rebuild would infer a schema with a Spark job waits for a request.
    The next request then hits the published snapshot."""
    from .test_tablestore import _jobs_during

    root = str(tmp_path / "primary")
    _fixture(root)
    store = warehouse_store(spark, str(tmp_path / "wh"))
    pipe = IngestionPipeline(spark, root, store)
    pipe.run_once()
    cache = ServingCache(store)
    assert cache.tenant_names() == ["CACHE_ACC", "CACHE_TRN"]
    assert cache.balances()[("CACHE_TRN", "CREDIT")] == decimal.Decimal("1.00")
    for name in ("transfer", "tenant"):
        assert cache.table_df(name) is not None

    # the commit: a new tenant, and a second transfer in CACHE_TRN
    t = os.path.join(root, "t_CACHE_TRN")
    write(os.path.join(t, "transaction", "TRN2"),
          "committed\nTRX CACHE_TRN CREDIT CACHE_TRN DEBIT 2020-01-02T00:00:00Z 2 CZK\n")
    write(os.path.join(t, "account", "CREDIT", "events", "0000000000", "1_2_TRN2"), "1\n")
    write(os.path.join(t, "account", "DEBIT", "events", "0000000000", "1_-2_TRN2"), "1\n")
    write(os.path.join(root, "t_CACHE_NEW", "account", "N", "snapshot", "0000000000"),
          "EUR FORMAT_N\n")
    assert pipe.run_once().transfers_discovered == 1
    balance_view.maintain(store)

    before = dict(cache.counters)
    assert _jobs_during(spark, cache.refresh) == set()
    moved = {k: cache.counters[k] - before.get(k, 0) for k in cache.counters}
    assert {k: v for k, v in moved.items() if v} == {
        "tenant_reload": 1, "balance_rollup_reload": 1, "df:transfer_reload": 1,
        "reload_on_publish": 3,
    }
    assert "account" not in cache._snaps  # no request read it
    assert set(cache._read) == {"df:tenant"}  # the rest wait for a request

    before = dict(cache.counters)
    assert cache.tenant_names() == ["CACHE_ACC", "CACHE_NEW", "CACHE_TRN"]
    assert cache.balances()[("CACHE_TRN", "CREDIT")] == decimal.Decimal("3.00")
    assert cache.table_df("transfer").count() == 2
    assert cache.table_df("tenant").count() == 3  # reloads here, on the request
    moved = {k: cache.counters[k] - before.get(k, 0) for k in cache.counters}
    assert {k: v for k, v in moved.items() if v} == {
        "tenant_hit": 1, "balance_rollup_hit": 1, "df:transfer_hit": 1,
        "df:tenant_reload": 1,
    }
