"""Incremental view maintenance: delta application ≡ full recompute."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_spark.operators import ivm
from data_warehouse_spark.sources.tables import TableStore

SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("amount_cents", T.LongType(), False),
    ]
)

GROUP = ["tenant"]
SUMS = ["amount_cents"]


ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("nn_amount_cents", T.LongType(), False),
        T.StructField("sum_amount_cents", T.LongType(), True),
    ]
)


def _store(spark, tmp_path) -> TableStore:
    return TableStore(
        spark, str(tmp_path / "wh"), {"t": SCHEMA, "t_rollup": ROLLUP_SCHEMA}
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _as_map(df):
    return {
        r["tenant"]: (r["n_rows"], r["sum_amount_cents"]) for r in df.collect()
    }


def _cdc(spark, images):
    """CDC row images: ('insert' | 'delete', tenant, name, amount_cents)."""
    return spark.createDataFrame(
        images,
        T.StructType([T.StructField(ivm.CHANGE_COL, T.StringType(), False)] + SCHEMA.fields),
    )


def test_maintenance_tracks_upserts_and_deletes(spark, tmp_path):
    """Across a mixed sequence of version swaps (insert, update, delete),
    applying each swap's CDC to the rollup equals recomputing the rollup
    from the post-change base."""
    store = _store(spark, tmp_path)
    store.overwrite(
        "t",
        _rows(
            spark,
            [("A", "x", 100), ("A", "y", 250), ("B", "x", 40), ("C", "z", 7)],
        ),
    )
    # the maintained view is itself a STORED table (materializing each
    # step also decouples it from base snapshots the store later retires)
    store.overwrite("t_rollup", ivm.compute_rollup(store.read("t"), GROUP, SUMS))

    # swap 1: update A/x (delete+insert images) and insert a new D row
    store.merge_upsert(
        "t",
        _rows(spark, [("A", "x", 175), ("D", "q", 9)]),
        ["tenant", "name"],
    )
    cdc = _cdc(
        spark,
        [("delete", "A", "x", 100), ("insert", "A", "x", 175), ("insert", "D", "q", 9)],
    )
    store.overwrite(
        "t_rollup", ivm.maintain_rollup(store.read("t_rollup"), cdc, GROUP, SUMS)
    )
    assert _as_map(store.read("t_rollup")) == _as_map(
        ivm.compute_rollup(store.read("t"), GROUP, SUMS)
    )

    # swap 2: delete every C row — the group must LEAVE the rollup
    store.merge_delete("t", _rows(spark, [("C", "z", 0)]).select("tenant", "name"), ["tenant", "name"])
    cdc = _cdc(spark, [("delete", "C", "z", 7)])
    store.overwrite(
        "t_rollup", ivm.maintain_rollup(store.read("t_rollup"), cdc, GROUP, SUMS)
    )
    m = _as_map(store.read("t_rollup"))
    assert "C" not in m
    assert m == _as_map(ivm.compute_rollup(store.read("t"), GROUP, SUMS))


def test_maintenance_never_scans_base(spark):
    """The maintenance plan reads the rollup and the CDC batch only — no
    scan of the base table (that is the whole point; a 'maintenance' that
    rescanned the base would hide a full recompute)."""
    from .explain import plan_report

    base = spark.createDataFrame(
        [("A", "x", 100), ("B", "y", 50)], SCHEMA
    )
    rollup = ivm.compute_rollup(base, GROUP, SUMS)
    # merge-time captured CDC (the scale path — snapshot diffing is the
    # audit fallback)
    cdc = spark.createDataFrame(
        [("insert", "A", "z", 30), ("delete", "B", "y", 50)],
        T.StructType([T.StructField("_change", T.StringType(), False)] + SCHEMA.fields),
    )
    plan = ivm.maintain_rollup(rollup, cdc, GROUP, SUMS)
    rep = plan_report(plan)
    assert "Scan parquet" not in rep.text, rep.text  # nothing re-read from disk
    # correctness of the same step
    got = {r["tenant"]: (r["n_rows"], r["sum_amount_cents"]) for r in plan.collect()}
    assert got == {"A": (2, 130)}


def test_duplicate_rows_maintained_exactly(spark):
    """Bag semantics: duplicate base rows count individually, and deleting
    one image of a duplicated row decrements without removing the group."""
    base = spark.createDataFrame(
        [("A", "x", 10), ("A", "x", 10), ("A", "y", 5)], SCHEMA
    )
    rollup = ivm.compute_rollup(base, GROUP, SUMS)
    cdc = spark.createDataFrame(
        [("delete", "A", "x", 10)],
        T.StructType([T.StructField("_change", T.StringType(), False)] + SCHEMA.fields),
    )
    out = ivm.maintain_rollup(rollup, cdc, GROUP, SUMS).collect()
    assert [(r["tenant"], r["n_rows"], r["sum_amount_cents"]) for r in out] == [
        ("A", 2, 15)
    ]


def test_null_group_keys_merge_null_safely(spark):
    """A NULL group key is ONE group: deltas must merge into it (eqNullSafe
    join), not duplicate or strand it."""
    nullable = T.StructType(
        [
            T.StructField("tenant", T.StringType(), True),
            T.StructField("name", T.StringType(), False),
            T.StructField("amount_cents", T.LongType(), False),
        ]
    )
    base = spark.createDataFrame([(None, "x", 10), (None, "y", 20)], nullable)
    rollup = ivm.compute_rollup(base, GROUP, SUMS)
    cdc = spark.createDataFrame(
        [("delete", None, "x", 10), ("insert", None, "z", 5)],
        T.StructType([T.StructField("_change", T.StringType(), False)] + nullable.fields),
    )
    out = ivm.maintain_rollup(rollup, cdc, GROUP, SUMS).collect()
    assert len(out) == 1
    r = out[0]
    assert r["tenant"] is None and r["n_rows"] == 2 and r["sum_amount_cents"] == 25


def test_all_null_sum_serves_null_after_deletes(spark):
    """Deleting a group's last non-null measure must serve sum=NULL (what a
    recompute says), not a stale 0 — the nn_ counter's whole job."""
    nullable = T.StructType(
        [
            T.StructField("tenant", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("amount_cents", T.LongType(), True),
        ]
    )
    base = spark.createDataFrame([("A", "x", None), ("A", "y", 5)], nullable)
    rollup = ivm.compute_rollup(base, GROUP, SUMS)
    cdc = spark.createDataFrame(
        [("delete", "A", "y", 5)],
        T.StructType([T.StructField("_change", T.StringType(), False)] + nullable.fields),
    )
    out = ivm.maintain_rollup(rollup, cdc, GROUP, SUMS).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 1 and out[0]["sum_amount_cents"] is None
    # and it matches the recompute over the surviving base exactly
    recomputed = ivm.compute_rollup(
        spark.createDataFrame([("A", "x", None)], nullable), GROUP, SUMS
    ).collect()[0]
    assert (out[0]["n_rows"], out[0]["nn_amount_cents"], out[0]["sum_amount_cents"]) == (
        recomputed["n_rows"], recomputed["nn_amount_cents"], recomputed["sum_amount_cents"]
    )
