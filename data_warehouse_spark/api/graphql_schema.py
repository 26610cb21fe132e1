"""GraphQL read API over the Spark warehouse.

Mirrors the reference's Sangria schema (GraphQLService.scala:207-292 in the
reference): 5 top-level query fields (tenant, tenants, account, accounts,
transfers), nested tenant/credit/debit entity resolution, and the balance
aggregate — re-expressed so every HTTP request compiles to a bounded number
of DataFrame plans:

  * list fields → one plan (filters + ORDER BY unique keys + OFFSET/LIMIT,
    operators/queries.py)
  * nested entities → ONE batched lookup per request (the reference
    batches per Sangria Fetcher level — Q7/Q8; we prefetch after the
    top-level page is known, which also collapses its per-tenant fan-out)
  * balance → ONE grouped aggregate per request for every account on the
    page (the reference issues one SUM per account — Q9's N+1 — explicitly
    improved here, same results)

Scalar edge rules pinned by the reference: status int⇄{queued, committed,
rollbacked} (GraphQLService.scala:38-59), DateTime as ISO
``yyyy-MM-ddTHH:mm:ss`` (:61-76), NaturalNumber = non-negative ints
(:18-36). Filter-range arguments use the *intended* semantics (see
the operators/queries.py filter-semantics note).
"""

from __future__ import annotations

import decimal
from typing import Any

from graphql import (
    GraphQLArgument,
    GraphQLBoolean,
    GraphQLField,
    GraphQLInt,
    GraphQLList,
    GraphQLNonNull,
    GraphQLObjectType,
    GraphQLScalarType,
    GraphQLSchema,
    GraphQLString,
)
from graphql.error import GraphQLError
from pyspark.sql import functions as F

from ..functions.coercions import status_code
from ..materialize import driver_df
from ..operators import balance_view
from ..operators import queries as wh
from ..schemas import STATUS_NAMES


def _natural(value: Any) -> int:
    iv = int(value)
    if iv < 0:
        raise GraphQLError(f"NaturalNumber must be >= 0, got {value}")
    return iv


NaturalNumber = GraphQLScalarType(
    name="NaturalNumber",
    serialize=int,
    parse_value=_natural,
    parse_literal=lambda node, _vars=None: _natural(getattr(node, "value", None)),
)


def _to_decimal(v) -> decimal.Decimal:
    if isinstance(v, decimal.Decimal):
        return v
    # never round-trip through float: Decimal(str(...)) only for non-floats
    if isinstance(v, float):
        raise GraphQLError("ExactDecimal refuses float input (lossy)")
    return decimal.Decimal(str(v))


# The reference serializes money as an exact BigDecimal JSON number
# (Sangria's BigDecimal scalar). float64 loses exactness above 2^53 cents —
# unobservable at test scale, wrong at warehouse scale — so balance/amount
# flow as decimal.Decimal end-to-end; the HTTP layer emits the exact numeric
# token (api/http.py _dumps_exact).
ExactDecimal = GraphQLScalarType(
    name="Decimal",
    serialize=lambda v: v if isinstance(v, decimal.Decimal) else _to_decimal(v),
    parse_value=_to_decimal,
    parse_literal=lambda node, _vars=None: decimal.Decimal(getattr(node, "value")),
)


def _decimal_out(v) -> decimal.Decimal:
    return v if isinstance(v, decimal.Decimal) else decimal.Decimal(str(v))


_ZERO_MONEY = decimal.Decimal("0.00")  # MONEY_SUM scale, the coalesce default


def _status_in(value: Any) -> int:
    """Scalar-level status coercion (the reference coerces at the scalar —
    GraphQLService.scala:38-59 — so a bad value is a query-analysis error
    → HTTP 400, never a resolver crash → 500)."""
    try:
        return status_code(value)
    except (ValueError, TypeError) as exc:
        raise GraphQLError(str(exc)) from exc


Status = GraphQLScalarType(
    name="Status",
    serialize=lambda v: v,  # input-only scalar (output uses the name string)
    parse_value=_status_in,
    parse_literal=lambda node, _vars=None: _status_in(getattr(node, "value", None)),
)


def _datetime_in(value: Any):
    """DateTime scalar input (reference: GraphQLService.scala:61-76):
    ISO-8601; a malformed literal is rejected at query analysis instead of
    becoming a NULL timestamp that silently filters everything out."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        return value
    try:
        return _dt.datetime.fromisoformat(str(value).replace("Z", "+00:00"))
    except ValueError as exc:
        raise GraphQLError(f"invalid DateTime literal: {value!r}") from exc


DateTime = GraphQLScalarType(
    name="DateTime",
    serialize=str,
    parse_value=_datetime_in,
    parse_literal=lambda node, _vars=None: _datetime_in(getattr(node, "value", None)),
)


class WarehouseContext:
    """Per-request resolver context: reads warehouse tables, memoizes the
    batched lookups so each kind runs at most once per request.

    Table reads ARE memoized per request: ``TableStore.read`` resolves the
    current snapshot directory at call time, so re-reading inside one
    request under the concurrent 2 s ingestion thread could mix two
    snapshots in a single response (page from v1, balances from v2 — a
    torn read). One resolve per table per request pins the snapshot.

    ``cache`` (a :class:`..api.serving_cache.ServingCache`, shared across
    requests by the HTTP app) serves the DIMENSION lookups — tenant
    pages, account pages/details, balances — from version-pinned
    in-memory snapshots of the Spark-maintained artifacts, each used
    only when provably fresh (fingerprint check, no Spark job) and
    memoized per request like the table reads.  Transfer pages go
    through ``cache.transfers_page`` (the Arrow fact tier, or Spark for
    range shapes).  Without a cache every path is the original Spark
    plan — the fallback the snapshots degrade to."""

    def __init__(self, store, cache=None):
        self.store = store
        self.cache = cache
        self._dfs: dict[str, Any] = {}
        self._snaps: dict[str, Any] = {}

    def _snapshot(self, kind: str):
        """Per-request memoized cache snapshot (tenants | accounts |
        balances) — None when the cache is absent, stale, or over its
        memory bound; callers then use the Spark path."""
        if kind not in self._snaps:
            if self.cache is None:
                self._snaps[kind] = None
            elif kind == "tenants":
                self._snaps[kind] = self.cache.tenant_names()
            elif kind == "accounts":
                self._snaps[kind] = self.cache.accounts()
            else:
                self._snaps[kind] = self.cache.balances()
        return self._snaps[kind]

    def _kv_pin(self, kind: str) -> str | None:
        """Per-request pinned KV freshness witness — 'account' (table
        fingerprint) or 'rollup' (freshness token), captured at the FIRST
        KV use of this request and passed to every later KV call.  A 2 s
        ingest tick landing mid-request then makes the KV path REFUSE
        (serving_cache compares live vs pinned) instead of serving the
        accounts page from version N and its details/balances from N+1 —
        the same torn-read guard the memoized table reads give the Spark
        path.  None (witness underivable) disables KV for this request."""
        key = f"__kv_pin:{kind}"
        if key not in self._snaps:
            try:
                self._snaps[key] = (
                    balance_view.table_fingerprint(self.store, "account")
                    if kind == "account"
                    # serving_token: fresh rollup token OR the stale-window
                    # token (rollup + Arrow-delta stays KV-served across
                    # the maintenance gap a tick opens — same pin contract)
                    else balance_view.serving_token(self.store)
                )
            except Exception:
                self._snaps[key] = None
        return self._snaps[key]

    def _table(self, name: str):
        if name not in self._dfs:
            df = None
            if self.cache is not None:
                # shared fingerprint-pinned frame: amortizes the per-read
                # file-index listing (driver-bound, ~5 s on the month-
                # partitioned facts at sf1 — serializes across concurrent
                # requests without this)
                df = self.cache.table_df(name)
            self._dfs[name] = df if df is not None else self.store.read(name)
        return self._dfs[name]

    def tenants_df(self):
        return self._table("tenant")

    def accounts_df(self):
        return self._table("account")

    def transfers_df(self):
        if "transfer" not in self._dfs:
            df = None
            if self.cache is not None:
                df = self.cache.transfers_df()  # shared, fingerprint-pinned plan
            if df is None:
                # keep_derived: the month-partition column rides along so
                # queries.transfers can prune date-ranged requests at the
                # path level (it drops the column before output)
                try:
                    df = self.store.read("transfer", keep_derived=True)
                except TypeError:  # unit-fake stores without the kwarg
                    df = self.store.read("transfer")
            self._dfs["transfer"] = df
        return self._dfs["transfer"]

    def abc_df(self):
        return self._table("account_balance_change")

    # --- batched nested resolution (Q7/Q8/Q9) --------------------------
    def fetch_accounts(self, keys: list[tuple[str, str]]) -> dict[tuple[str, str], dict]:
        """Account details + balances for a literal key batch.

        Fast path: both lookups are dict gets against the serving
        cache's version-pinned snapshots — zero Spark jobs per request
        (the difference between ~36 s and sub-s balance-page p95 at sf1
        under 32 concurrent clients on a 32-core box).  Each side
        degrades independently to the original Spark plan: the account
        semi-join, and the balance lookup — itself two-tier, maintained
        rollup (``balance_view``) before the O(changes) direct
        aggregate.  Identical output on every path, pinned by tests."""
        if not keys:
            return {}
        uniq = sorted(set(keys))
        kdf = None  # built lazily — only the Spark fallbacks need it
        # literal tenant IN-list for the Spark fallbacks: the hot tables are
        # hive-partitioned by tenant, and a broadcast semi-join alone prunes
        # NOTHING at the scan — without this every stale-snapshot request
        # re-reads the whole fact (measured 2.1 s vs ~0.3 s pruned at sf1)
        batch_tenants = sorted({t for t, _ in uniq})

        acc_snap = self._snapshot("accounts")
        acc_kv = None
        if acc_snap is None and self.cache is not None:
            # the tier past the snapshot memory bound: row-group-pruned
            # point reads over the same artifact (api/kv_tier.py) — still
            # zero Spark jobs when the account table outgrows the snapshot.
            # Pinned to this request's first-use fingerprint (_kv_pin):
            # a mid-request ingest tick → refuse, Spark path, no torn read
            pin = self._kv_pin("account")
            if pin is not None:
                try:
                    acc_kv = self.cache.kv_account_details(uniq, pinned=pin)
                except TypeError:  # unit-fake caches without the kwarg
                    acc_kv = self.cache.kv_account_details(uniq)
        rows: dict[tuple[str, str], dict] = {}
        if acc_snap is not None or acc_kv is not None:
            for k in uniq:
                detail = (
                    acc_snap["by_key"].get(k)
                    if acc_snap is not None
                    else acc_kv.get(k)
                )
                if detail is not None:
                    rows[k] = {
                        "tenant": k[0],
                        "name": k[1],
                        "currency": detail[0],
                        "format": detail[1],
                        "balance": decimal.Decimal(0),
                    }
        else:
            kdf = driver_df(self.store.spark, uniq, "tenant string, name string")
            accounts = self.accounts_df().filter(
                F.col("tenant").isin(batch_tenants)
            ).join(F.broadcast(kdf), ["tenant", "name"], "left_semi")
            rows = {
                (r["tenant"], r["name"]): {
                    "tenant": r["tenant"],
                    "name": r["name"],
                    "currency": r["currency"],
                    "format": r["format"],
                    "balance": decimal.Decimal(0),
                }
                for r in accounts.collect()
            }

        bal_snap = self._snapshot("balances")
        if bal_snap is not None:
            for k, row in rows.items():
                row["balance"] = bal_snap.get(k, _ZERO_MONEY)
            return rows
        if self.cache is not None:
            # KV point reads against the maintained rollup (same freshness
            # token as the snapshot); a key with no change rows is 0.00 —
            # identical to the snapshot's .get(k, 0) coalesce.  Pinned to
            # this request's first-use token, like the account details
            bal_kv = None
            pin = self._kv_pin("rollup")
            if pin is not None:
                try:
                    bal_kv = self.cache.kv_balances(sorted(rows), pinned=pin)
                except TypeError:  # unit-fake caches without the kwarg
                    bal_kv = self.cache.kv_balances(sorted(rows))
            if bal_kv is not None:
                for k, row in rows.items():
                    row["balance"] = bal_kv.get(k, _ZERO_MONEY)
                return rows

        if kdf is None:
            kdf = driver_df(self.store.spark, uniq, "tenant string, name string")
        if "_balance_rollup" not in self._dfs:
            # memoized per request like the table reads (snapshot pinning)
            self._dfs["_balance_rollup"] = balance_view.read_if_fresh(self.store)
        rollup = self._dfs["_balance_rollup"]
        if rollup is not None:
            balances = balance_view.balances_from_rollup(
                rollup.filter(F.col("tenant").isin(batch_tenants)), kdf
            )
        else:
            balances = wh.account_balances(
                self.abc_df().filter(F.col("tenant").isin(batch_tenants)),
                keys=kdf,
            )
        for r in balances.collect():
            k = (r["tenant"], r["name"])
            if k in rows:
                rows[k]["balance"] = _decimal_out(r["balance"])
        return rows


def _status_out(code: int) -> str:
    return STATUS_NAMES.get(code, str(code))


def _iso(dt) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S")


Tenant = GraphQLObjectType(
    "Tenant", lambda: {"name": GraphQLField(GraphQLNonNull(GraphQLString))}
)

Account = GraphQLObjectType(
    "Account",
    lambda: {
        "tenant": GraphQLField(GraphQLNonNull(GraphQLString)),
        "name": GraphQLField(GraphQLNonNull(GraphQLString)),
        "currency": GraphQLField(GraphQLNonNull(GraphQLString)),
        "format": GraphQLField(GraphQLNonNull(GraphQLString)),
        "balance": GraphQLField(ExactDecimal),
    },
)

Transfer = GraphQLObjectType(
    "Transfer",
    lambda: {
        "tenant": GraphQLField(GraphQLNonNull(GraphQLString)),
        "transaction": GraphQLField(GraphQLNonNull(GraphQLString)),
        "transfer": GraphQLField(GraphQLNonNull(GraphQLString)),
        "status": GraphQLField(GraphQLNonNull(GraphQLString)),
        "credit": GraphQLField(Account),
        "debit": GraphQLField(Account),
        "amount": GraphQLField(ExactDecimal),
        "currency": GraphQLField(GraphQLNonNull(GraphQLString)),
        "valueDate": GraphQLField(GraphQLString),
    },
)


def _page_args():
    return {
        "limit": GraphQLArgument(NaturalNumber, default_value=100),
        "offset": GraphQLArgument(NaturalNumber, default_value=0),
    }


def _page(rows: list, limit, offset: int) -> list:
    """The cache-side mirror of ``pagination.paginate`` over a pre-sorted
    list: OFFSET then LIMIT (Python slicing reproduces Spark's
    offset/limit exactly; the sort key is unique so order is total)."""
    end = None if limit is None else offset + limit
    return rows[offset:end]


def _resolve_tenants(_src, info, limit=100, offset=0):
    ctx: WarehouseContext = info.context
    names = ctx._snapshot("tenants")
    if names is not None:
        return [{"name": n} for n in _page(names, limit, offset)]
    return [
        {"name": r["name"]}
        for r in wh.tenants(ctx.tenants_df(), limit=limit, offset=offset).collect()
    ]


def _resolve_tenant(_src, info, tenant: str):
    ctx: WarehouseContext = info.context
    names = ctx._snapshot("tenants")
    if names is not None:
        return {"name": tenant} if tenant in names else None
    rows = wh.tenant_by_name(ctx.tenants_df(), tenant).collect()
    return {"name": rows[0]["name"]} if rows else None


def _resolve_accounts(_src, info, tenant: str, currency=None, format=None, limit=100, offset=0):  # noqa: A002
    ctx: WarehouseContext = info.context
    acc_snap = ctx._snapshot("accounts")
    page_keys = None
    if acc_snap is not None:
        rows = acc_snap["by_tenant"].get(tenant, [])
        if currency is not None:
            rows = [r for r in rows if r[1] == currency]
        if format is not None:
            rows = [r for r in rows if r[2] == format]
        page_keys = [(tenant, r[0]) for r in _page(rows, limit, offset)]
    elif ctx.cache is not None:
        # past the snapshot bound: the page slices an LRU-kept sorted
        # Arrow materialization of ONE tenant partition (kv_tier) — other
        # tenants are never touched, and only ≤ limit rows reach Python
        kv_page = ctx.cache.kv_accounts_page(
            tenant, currency=currency, format=format, limit=limit, offset=offset
        )
        if kv_page is not None:
            page_keys = [(tenant, r[0]) for r in kv_page]
    if page_keys is None:
        page = wh.accounts(
            ctx.accounts_df(), tenant=tenant, currency=currency, format=format,
            limit=limit, offset=offset,
        ).collect()
        page_keys = [(r["tenant"], r["name"]) for r in page]
    fetched = ctx.fetch_accounts(page_keys)
    # .get, not [...]: the memoized per-request snapshot makes a miss
    # impossible today, but a page row without its detail row must degrade
    # to a null entry, never a KeyError → 500 for the whole field
    return [fetched.get(k) for k in page_keys]


def _resolve_account(_src, info, tenant: str, name: str):
    ctx: WarehouseContext = info.context
    fetched = ctx.fetch_accounts([(tenant, name)])
    return fetched.get((tenant, name))


def _resolve_transfers(
    _src, info, tenant: str, currency=None, status=None,
    amount_lt=None, amount_lte=None, amount_gt=None, amount_gte=None,
    valueDate_lt=None, valueDate_lte=None, valueDate_gt=None, valueDate_gte=None,
    limit=100, offset=0,
):
    ctx: WarehouseContext = info.context

    def _spark_page():
        return wh.transfers(
            ctx.transfers_df(), tenant=tenant, currency=currency,
            status=status,  # already coerced by the Status scalar
            amount_lt=amount_lt, amount_lte=amount_lte,
            amount_gt=amount_gt, amount_gte=amount_gte,
            value_date_lt=valueDate_lt, value_date_lte=valueDate_lte,
            value_date_gt=valueDate_gt, value_date_gte=valueDate_gte,
            limit=limit, offset=offset,
        ).collect()

    if ctx.cache is None:
        page = _spark_page()
    else:
        ranged = any(
            v is not None
            for v in (
                amount_lt, amount_lte, amount_gt, amount_gte,
                valueDate_lt, valueDate_lte, valueDate_gt, valueDate_gte,
            )
        )
        page = ctx.cache.transfers_page(
            tenant, currency, status, ranged, limit, offset, _spark_page
        )
    # ONE batched account fetch for every credit/debit on the page (Q8)
    keys = [(r["credit_tenant"], r["credit_name"]) for r in page] + [
        (r["debit_tenant"], r["debit_name"]) for r in page
    ]
    fetched = ctx.fetch_accounts(keys)
    return [
        {
            "tenant": r["tenant"],
            "transaction": r["transaction"],
            "transfer": r["transfer"],
            "status": _status_out(r["status"]),
            "credit": fetched.get((r["credit_tenant"], r["credit_name"])),
            "debit": fetched.get((r["debit_tenant"], r["debit_name"])),
            "amount": _decimal_out(r["amount"]),
            "currency": r["currency"],
            "valueDate": _iso(r["value_date"]),
        }
        for r in page
    ]


QueryType = GraphQLObjectType(
    "Query",
    {
        "tenants": GraphQLField(
            GraphQLList(Tenant), args=_page_args(), resolve=_resolve_tenants
        ),
        "tenant": GraphQLField(
            Tenant,
            args={"tenant": GraphQLArgument(GraphQLNonNull(GraphQLString))},
            resolve=_resolve_tenant,
        ),
        "accounts": GraphQLField(
            GraphQLList(Account),
            args={
                "tenant": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                "currency": GraphQLArgument(GraphQLString),
                "format": GraphQLArgument(GraphQLString),
                **_page_args(),
            },
            resolve=_resolve_accounts,
        ),
        "account": GraphQLField(
            Account,
            args={
                "tenant": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                "name": GraphQLArgument(GraphQLNonNull(GraphQLString)),
            },
            resolve=_resolve_account,
        ),
        "transfers": GraphQLField(
            GraphQLList(Transfer),
            args={
                "tenant": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                "currency": GraphQLArgument(GraphQLString),
                "status": GraphQLArgument(Status),
                # money filters are exact decimals end-to-end (the output
                # side's ExactDecimal discipline, applied to INPUT: a float
                # arg would promote the DECIMAL column to double in the
                # comparison and blur cents above 2^53)
                "amount_lt": GraphQLArgument(ExactDecimal),
                "amount_lte": GraphQLArgument(ExactDecimal),
                "amount_gt": GraphQLArgument(ExactDecimal),
                "amount_gte": GraphQLArgument(ExactDecimal),
                "valueDate_lt": GraphQLArgument(DateTime),
                "valueDate_lte": GraphQLArgument(DateTime),
                "valueDate_gt": GraphQLArgument(DateTime),
                "valueDate_gte": GraphQLArgument(DateTime),
                **_page_args(),
            },
            resolve=_resolve_transfers,
        ),
    },
)

schema = GraphQLSchema(query=QueryType)


def execute(
    store,
    query: str,
    variables: dict | None = None,
    operation_name: str | None = None,
    cache=None,
):
    """Parse/validate/execute one GraphQL request against the warehouse.
    ``cache``: the app-lifetime ServingCache (api/http.py builds one);
    omitted → every resolver uses its Spark path."""
    from graphql import graphql_sync

    return graphql_sync(
        schema,
        query,
        variable_values=variables,
        operation_name=operation_name,
        context_value=WarehouseContext(store, cache=cache),
    )
