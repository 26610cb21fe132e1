"""The reference's complete query surface as pure DataFrame functions.

One function per compiled query in the reference's GraphQLPersistence.scala
(cites inline). Each takes the relevant warehouse DataFrame(s) and returns an
unresolved DataFrame plan — Catalyst handles pushdown, pruning, and join
strategy; nothing here forces execution.

Filter-semantics note: the reference implements its optional range arguments
*inverted* (e.g. ``amount_gte`` compiles to ``amount <= v`` —
GraphQLPersistence.scala:277-316; ``accounts.currency`` uses ``>=`` — :203).
None of its own tests exercise these paths. We implement the *intended*
semantics (name == operator).
"""

from __future__ import annotations

from collections.abc import Iterable
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import MONEY_SUM
from .pagination import paginate


# --- Q1: tenants(limit, offset) — GraphQLPersistence.scala:149-165 ----------
def tenants(tenant_df: DataFrame, limit: int | None = None, offset: int = 0) -> DataFrame:
    return paginate(tenant_df.select("name"), ["name"], limit, offset)


# --- Q2: tenantsByNames(names) — GraphQLPersistence.scala:167-182 -----------
def tenants_by_names(tenant_df: DataFrame, names: Iterable[str]) -> DataFrame:
    # IN-list lookup: a literal key set → Catalyst folds isin into the scan
    return tenant_df.select("name").filter(F.col("name").isin(list(names))).orderBy("name")


# --- Q3: accounts(tenant, currency?, format?, limit, offset) ----------------
#     GraphQLPersistence.scala:184-224
def accounts(
    account_df: DataFrame,
    tenant: str,
    currency: str | None = None,
    format: str | None = None,  # noqa: A002 - reference field name
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    out = account_df.filter(F.col("tenant") == tenant)
    if currency is not None:
        out = out.filter(F.col("currency") == currency)
    if format is not None:
        out = out.filter(F.col("format") == format)
    return paginate(
        out.select("tenant", "name", "currency", "format"), ["name"], limit, offset
    )


# --- Q4: accountsByNames(tenant, names) — GraphQLPersistence.scala:226-242 --
def accounts_by_names(account_df: DataFrame, tenant: str, names: Iterable[str]) -> DataFrame:
    return (
        account_df.filter((F.col("tenant") == tenant) & F.col("name").isin(list(names)))
        .select("tenant", "name", "currency", "format")
        .orderBy("name")
    )


# --- Q5: transfers(...10 optional predicates...) -----------------------------
#     GraphQLPersistence.scala:244-368
def transfers(
    transfer_df: DataFrame,
    tenant: str,
    currency: str | None = None,
    status: int | None = None,
    amount_lt=None,
    amount_lte=None,
    amount_gt=None,
    amount_gte=None,
    value_date_lt: datetime | str | None = None,
    value_date_lte: datetime | str | None = None,
    value_date_gt: datetime | str | None = None,
    value_date_gte: datetime | str | None = None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    out = transfer_df.filter(F.col("tenant") == tenant)
    if currency is not None:
        out = out.filter(F.col("currency") == currency)
    if status is not None:
        out = out.filter(F.col("status") == status)

    def _rng(col: str, op: str, value) -> Column:
        c = F.col(col)
        return {"lt": c < value, "lte": c <= value, "gt": c > value, "gte": c >= value}[op]

    for op, val in (
        ("lt", amount_lt), ("lte", amount_lte), ("gt", amount_gt), ("gte", amount_gte)
    ):
        if val is not None:
            out = out.filter(_rng("amount", op, val))
    date_bounds = []
    for op, val in (
        ("lt", value_date_lt), ("lte", value_date_lte),
        ("gt", value_date_gt), ("gte", value_date_gte),
    ):
        if val is not None:
            out = out.filter(_rng("value_date", op, F.lit(val).cast("timestamp")))
            date_bounds.append((op, val))

    # partition pruning on the derived month bucket: when the fact table is
    # stored with the (tenant, value_month) layout (TableStore
    # month_partitions) the caller passes a frame that still carries
    # `value_month`; any value_date bound then also bounds the month dirs.
    # The month predicate is WIDENED one month each side so session-timezone
    # drift between writer and reader can never exclude a matching row —
    # it only prunes paths, the exact value_date filter above decides rows.
    # 'yyyy-MM' compares lexicographically == chronologically.
    if "value_month" in out.columns:
        if date_bounds:
            for op, val in date_bounds:
                ts = F.lit(val).cast("timestamp")
                if op in ("gt", "gte"):
                    out = out.filter(
                        F.col("value_month")
                        >= F.date_format(F.add_months(ts, -1), "yyyy-MM")
                    )
                else:
                    out = out.filter(
                        F.col("value_month")
                        <= F.date_format(F.add_months(ts, 1), "yyyy-MM")
                    )
        out = out.drop("value_month")  # storage layout, never output schema

    # total order on PK remainder within the tenant — deterministic pages
    return paginate(out, ["transaction", "transfer"], limit, offset)


# --- Q6: accountBalance(tenant, name) — GraphQLPersistence.scala:370-403 -----
def account_balance(abc_df: DataFrame, tenant: str, name: str) -> DataFrame:
    """SUM of signed balance changes for one account, NULL→0."""
    return (
        abc_df.filter((F.col("tenant") == tenant) & (F.col("name") == name))
        .agg(
            F.coalesce(F.sum("amount"), F.lit(0).cast(MONEY_SUM)).alias("balance")
        )
    )


# --- Q6 batched (the N+1 fix the reference lacks — GraphQLService.scala:166-170
#     issues one aggregate per account; we group once per request) -----------
def account_balances(
    abc_df: DataFrame, keys: DataFrame | None = None, accounts_df: DataFrame | None = None
) -> DataFrame:
    """Balances for many accounts in one grouped aggregate.

    ``keys``: optional DataFrame[tenant, name] restricting the account set
    (semi-join — the DataLoader batch). ``accounts_df``: optional account
    dimension to left-join so zero-activity accounts surface balance 0, which
    the reference guarantees (getOrElse(0) — GraphQLPersistence.scala:400).
    """
    changes = abc_df
    if keys is not None:
        changes = changes.join(F.broadcast(keys), ["tenant", "name"], "left_semi")
    sums = changes.groupBy("tenant", "name").agg(F.sum("amount").alias("balance"))
    base = accounts_df.select("tenant", "name") if accounts_df is not None else None
    if keys is not None:
        base = keys.select("tenant", "name") if base is None else base.join(
            F.broadcast(keys), ["tenant", "name"], "left_semi"
        )
    if base is None:
        return sums
    return base.join(sums, ["tenant", "name"], "left").select(
        "tenant",
        "name",
        F.coalesce(F.col("balance"), F.lit(0).cast(MONEY_SUM)).alias("balance"),
    )


# --- Q10/Q11: point lookups — GraphQLService.scala:211-238 -------------------
def tenant_by_name(tenant_df: DataFrame, name: str) -> DataFrame:
    return tenant_df.filter(F.col("name") == name).limit(1)


def account_by_name(account_df: DataFrame, tenant: str, name: str) -> DataFrame:
    return (
        account_df.filter((F.col("tenant") == tenant) & (F.col("name") == name))
        .select("tenant", "name", "currency", "format")
        .limit(1)
    )
