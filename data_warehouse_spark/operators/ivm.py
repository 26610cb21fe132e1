"""Incremental view maintenance: keep a stored rollup current from CDC
row images, never rescanning the base table.

The warehouse pattern: a 100 TB fact has standing aggregate views
(per-group COUNT/SUM rollups). Recomputing them per change is a full
scan; maintaining them incrementally costs one pass over the CHANGE
batch plus one merge into the (much smaller) rollup:

    delta(group) = Σ over row images:  insert → (+1, +x), delete → (−1, −x)
    new_rollup   = old_rollup ⟗ delta, summed per group, zero-count
                   groups dropped

This is exact for the DISTRIBUTIVE aggregates (COUNT, SUM) because an
update arrives as delete+insert images (the Delta-CDF convention), so
any sequence of inserts/updates/deletes telescopes. Two SQL edge
semantics are carried explicitly:

- **NULL group keys** merge null-safely (the join uses ``eqNullSafe``,
  the same invariant ``TableStore._key_cond`` pins for MERGE) — a NULL
  group is one group, not a parade of unmergeable rows;
- **NULL measure values**: SUM ignores NULLs and returns NULL for a
  group with no non-null values, so each sum carries its own non-null
  count (``nn_<col>``) and serves NULL exactly when that count is zero —
  without it, deleting a group's last non-null row would leave a stale 0
  where a recompute says NULL.

MIN/MAX are deliberately NOT offered: under deletes they are not
incrementally maintainable from deltas alone (deleting the current
extremum needs the base or an auxiliary structure) — a caller wanting
them must recompute, and an API that silently did that would hide a full
scan behind a "maintenance" call.

Scale shape: the delta aggregation shuffles only the CDC batch (small by
construction); the merge joins two rollup-sized tables on the group key
— a full outer join the optimizer can broadcast when the delta is tiny.
The base table never appears in the maintenance plan (plan-pinned in
tests/test_ivm.py).

The reference has no materialized aggregates at all (its one SUM runs
per query — ``GraphQLPersistence.scala:370-403``); this module is part
of the 100 TB extension surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "_change"  # 'insert' | 'delete' row-image tag


def measure_cols(sum_cols: list[str]) -> list[str]:
    """The maintained measure columns, in schema order."""
    return (
        ["n_rows"]
        + [f"nn_{c}" for c in sum_cols]
        + [f"sum_{c}" for c in sum_cols]
    )


def compute_rollup(
    base: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The full-recompute definition of the maintained view: per-group
    row count, per-measure non-null count, and sums. ``n_rows`` is also
    the maintenance bookkeeping — a group whose count reaches zero leaves
    the view; ``nn_<c>`` decides when ``sum_<c>`` is NULL."""
    aggs = (
        [F.count(F.lit(1)).alias("n_rows")]
        + [F.count(F.col(c)).alias(f"nn_{c}") for c in sum_cols]
        + [F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols]
    )
    return base.groupBy(*group_cols).agg(*aggs)


def cdc_delta(
    cdc: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """Per-group signed delta from insert/delete row images. ``sign·NULL``
    is NULL and SUM skips it — a NULL measure image moves the non-null
    count and the sum by exactly nothing, which is the correct delta."""
    sign = F.when(F.col(CHANGE_COL) == "insert", F.lit(1)).otherwise(F.lit(-1))
    aggs = (
        [F.sum(sign).alias("n_rows")]
        + [
            F.sum(sign * F.col(c).isNotNull().cast("long")).alias(f"nn_{c}")
            for c in sum_cols
        ]
        + [F.sum(sign * F.col(c)).alias(f"sum_{c}") for c in sum_cols]
    )
    return cdc.groupBy(*group_cols).agg(*aggs)


def apply_delta(
    rollup: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    drop_empty: bool = True,
) -> DataFrame:
    """Merge a signed delta into the rollup: NULL-SAFE full outer join on
    the group key, per-measure sum of the two sides, groups with no
    remaining rows dropped. New groups (delta side only) enter with their
    delta values; a sum whose remaining non-null count is zero serves
    NULL, exactly as a recompute would.

    ``drop_empty=False`` keeps zero-count groups in the output — the
    partitioned-MERGE maintenance consumes them as its DELETE set (a
    stored rollup can't drop a row by omitting it from an upsert batch)."""
    measures = measure_cols(sum_cols)
    left = rollup.select(
        *[F.col(k).alias(f"_l_{k}") for k in group_cols], *measures
    )
    right = delta.select(
        *[F.col(k).alias(f"_r_{k}") for k in group_cols],
        *[F.col(m).alias(f"_d_{m}") for m in measures],
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"_l_{k}").eqNullSafe(F.col(f"_r_{k}")) for k in group_cols],
    )
    merged = left.join(right, cond, "full_outer")
    keys = [
        F.coalesce(F.col(f"_l_{k}"), F.col(f"_r_{k}")).alias(k) for k in group_cols
    ]

    def summed(m: str) -> F.Column:
        return F.coalesce(F.col(m), F.lit(0)) + F.coalesce(F.col(f"_d_{m}"), F.lit(0))

    out = (
        [summed("n_rows").alias("n_rows")]
        + [summed(f"nn_{c}").alias(f"nn_{c}") for c in sum_cols]
        + [
            F.when(summed(f"nn_{c}") == 0, F.lit(None))
            .otherwise(summed(f"sum_{c}"))
            .alias(f"sum_{c}")
            for c in sum_cols
        ]
    )
    result = merged.select(*keys, *out)
    return result.filter(F.col("n_rows") > 0) if drop_empty else result


def maintain_rollup(
    rollup: DataFrame, cdc: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """One maintenance step: rollup ⊕ cdc-batch → new rollup. Exact
    equivalence with ``compute_rollup`` over the post-change base is
    pinned in tests/test_ivm.py for arbitrary insert/update/delete mixes,
    including NULL group keys and NULL measure values."""
    return apply_delta(
        rollup, cdc_delta(cdc, group_cols, sum_cols), group_cols, sum_cols
    )
