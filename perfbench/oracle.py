"""Expected GraphQL answers from DuckDB over the same fixture parquet.

The warehouse the service serves is derived from the fixture by
``catalog.warehouse_views``; ``catalog.WAREHOUSE_CTE_SQL`` is that
derivation's SQL twin. The twin's rows are pulled once into Python and each
sampled response is recomputed from them (outside the timed path)."""

from __future__ import annotations

import decimal
import json
import os

from data_warehouse_spark.catalog import WAREHOUSE_CTE_SQL
from data_warehouse_spark.schemas import STATUS_NAMES


def norm(v):
    """JSON value with every number as a normalized Decimal."""
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [norm(x) for x in v]
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        d = decimal.Decimal(str(v)) if isinstance(v, float) else decimal.Decimal(v)
        return d.normalize() if d else decimal.Decimal(0)
    return v


class Oracle:
    def __init__(self, data_dir: str, extra_tenants: list[str]):
        import duckdb

        con = duckdb.connect()
        for t in ("nation", "customer", "supplier", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        rows = con.execute(WAREHOUSE_CTE_SQL + "SELECT tenant, name, currency, format "
                           "FROM account_v").fetchall()
        self.account = {(t, n): (c, f) for t, n, c, f in rows}
        self.accounts_by_tenant: dict[str, list[str]] = {}
        for t, n in sorted(self.account):
            self.accounts_by_tenant.setdefault(t, []).append(n)
        self.balance = {
            (t, n): b for t, n, b in con.execute(
                WAREHOUSE_CTE_SQL + "SELECT tenant, name, SUM(amount) "
                "FROM account_balance_change_v GROUP BY 1, 2").fetchall()}
        self.transfers: dict[str, list[tuple]] = {}
        for row in con.execute(
                WAREHOUSE_CTE_SQL + "SELECT tenant, transaction, transfer, status, "
                "credit_tenant, credit_name, debit_tenant, debit_name, amount, value_date "
                "FROM transfer_v ORDER BY tenant, transaction, transfer").fetchall():
            self.transfers.setdefault(row[0], []).append(row)
        self.tenants = sorted(set(r[0] for r in con.execute(
            WAREHOUSE_CTE_SQL + "SELECT name FROM tenant_v").fetchall()) | set(extra_tenants))
        con.close()

    def _acct(self, tenant: str, name: str, fields: tuple) -> dict | None:
        if (tenant, name) not in self.account:
            return None  # a supplier: a transfer side that is no account
        cur, fmt = self.account[(tenant, name)]
        full = {"name": name, "currency": cur, "format": fmt,
                "balance": self.balance.get((tenant, name), 0)}
        return {f: full[f] for f in fields}

    def expect(self, shape: str, a: dict):
        if shape == "account_point":
            return {"account": self._acct(a["tenant"], a["name"],
                                          ("name", "currency", "format", "balance"))}
        if shape == "accounts_page":
            names = self.accounts_by_tenant[a["tenant"]][a["offset"]:a["offset"] + a["limit"]]
            return {"accounts": [self._acct(a["tenant"], n, ("name", "currency", "format", "balance"))
                                 for n in names]}
        if shape == "transfers_nested":
            page = self.transfers[a["tenant"]][a["offset"]:a["offset"] + a["limit"]]
            return {"transfers": [{
                "transaction": r[1], "transfer": r[2], "amount": r[8],
                "status": STATUS_NAMES[r[3]],
                "credit": self._acct(r[4], r[5], ("name", "balance")),
                "debit": self._acct(r[6], r[7], ("name", "balance")),
            } for r in page]}
        if shape == "transfers_filtered":
            import datetime as dt

            d0 = dt.datetime.fromisoformat(a["d0"][:19])
            d1 = dt.datetime.fromisoformat(a["d1"][:19])
            rows = [r for r in self.transfers[a["tenant"]]
                    if r[3] == 1 and a["lo"] <= r[8] < a["hi"] and d0 <= r[9] < d1]
            return {"transfers": [{
                "transaction": r[1], "transfer": r[2], "amount": r[8],
                "valueDate": r[9].strftime("%Y-%m-%dT%H:%M:%S"),
            } for r in rows[:a["limit"]]]}
        if shape == "tenants_page":
            return {"tenants": [{"name": n} for n in
                                self.tenants[a["offset"]:a["offset"] + a["limit"]]]}
        raise ValueError(shape)

    def check(self, records: list[dict]) -> dict[str, str]:
        """Request id → mismatch description, for every sampled record
        whose answer differs from the expected one."""
        bad = {}
        for r in records:
            if r["body"] is None or r["error"]:
                continue
            got = json.loads(r["body"], parse_float=decimal.Decimal)["data"]
            if norm(got) != norm(self.expect(r["shape"], r["args"])):
                bad[r["rid"]] = f"{r['shape']} {r['args']}: {r['body'][:200]!r}"
        return bad
