"""Scalar coercions at the API/data edge.

Mirrors the reference's scalar layer (GraphQLService.scala:16-78 in the
reference): status enum string⇄int, ISO-8601 datetimes, exact money.

Money policy: inside the engine money is DECIMAL(18,2) (exact, associative
aggregation — safe to partial-aggregate map-side at any scale). For
cross-engine comparison (the DuckDB oracle) aggregates are exported as
integer *cents* (BIGINT), which survives every pandas/Arrow conversion
bit-identically; decimal→float64 conversions do not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import MONEY, STATUS_CODES, STATUS_NAMES


def to_money(col: Column | str) -> Column:
    """Exact decimal money from any numeric input (double parquet columns).

    A double that encodes a 2-dp money value rounds to the same DECIMAL(18,2)
    in Spark and DuckDB (nearest; doubles are never exactly half-way).
    """
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)


def money_cents(col: Column | str) -> Column:
    """DECIMAL(18,2) money → exact integer cents (BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * 100).cast("bigint")


def status_name(col: Column | str) -> Column:
    """int status → {queued, committed, rollbacked} (API edge)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(None).cast("string")
    for code, name in sorted(STATUS_NAMES.items(), reverse=True):
        expr = F.when(c == code, F.lit(name)).otherwise(expr)
    return expr


def status_code(name: str) -> int:
    """string status → int code; raises on unknown (API validation)."""
    try:
        return STATUS_CODES[name]
    except KeyError:
        raise ValueError(
            f"unknown status {name!r}; expected one of {sorted(STATUS_CODES)}"
        ) from None
