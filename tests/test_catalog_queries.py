"""Every catalog query with an oracle must match it (the driver's gate, local)."""

from __future__ import annotations

import pytest

from data_warehouse_spark.queries_catalog import QUERIES

from .conftest import SF_DIR, assert_matches_oracle

ORACLE_QUERIES = sorted(name for name, qd in QUERIES.items() if qd.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    qd = QUERIES[name]
    df = qd.fn(spark, SF_DIR)
    assert_matches_oracle(df, qd.oracle, SF_DIR)


def test_running_balance_rows_match_oracle(spark):
    """The PER-TRANSFER running-balance rows, pinned row-for-row against the
    windowed oracle. The catalog entry serves the bounded per-account
    summary (benchable output size); this test keeps the full-granularity
    window proof the entry had before it was bounded."""
    from data_warehouse_spark import catalog as cat
    from data_warehouse_spark.catalog import WAREHOUSE_CTE_SQL
    from data_warehouse_spark.operators import windows

    v = cat.warehouse_views(spark, SF_DIR)
    df = windows.running_balance(v["account_balance_change"])
    assert_matches_oracle(
        df,
        WAREHOUSE_CTE_SQL
        + """SELECT tenant, name, value_date,
                    CAST(amount * 100 AS BIGINT) AS amount_cents,
                    CAST(SUM(CAST(amount * 100 AS BIGINT)) OVER (
                         PARTITION BY tenant, name
                         ORDER BY value_date, amount
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
             FROM account_balance_change_v""",
        SF_DIR,
    )


def test_running_balance_summary_tied_duplicate_rows(spark):
    """Regression: an account whose LAST (value_date, amount) group holds
    duplicate rows. final must be the true total (sum), not a tied running
    value — a row_number pick ordered by running_cents DESC would report
    the balance BEFORE the last duplicate for negative amounts."""
    import datetime
    import decimal

    from data_warehouse_spark.operators import windows

    d = decimal.Decimal
    t1 = datetime.datetime(2020, 1, 1)
    t2 = datetime.datetime(2020, 1, 2)
    abc = spark.createDataFrame(
        [
            ("T", "A", t1, d("10.00")),
            ("T", "A", t2, d("-5.00")),
            ("T", "A", t2, d("-5.00")),  # tied duplicate
        ],
        "tenant string, name string, value_date timestamp, amount decimal(18,2)",
    )
    r = windows.running_balance_summary(abc).collect()[0]
    assert r["final_cents"] == 0  # 1000 - 500 - 500
    assert r["peak_cents"] == 1000
    assert r["max_drawdown_cents"] == 1000  # peak 1000 → trough 0
    assert r["n_changes"] == 3

    # ties at the START of the series (peak/trough INSIDE the tie group):
    # serial running for two -5.00 rows is -500 then -1000 — drawdown 500,
    # whatever tie order the engine's sort emits
    neg = spark.createDataFrame(
        [("T", "B", t1, d("-5.00")), ("T", "B", t1, d("-5.00"))],
        "tenant string, name string, value_date timestamp, amount decimal(18,2)",
    )
    r = windows.running_balance_summary(neg).collect()[0]
    assert r["final_cents"] == -1000
    assert r["peak_cents"] == -500
    assert r["max_drawdown_cents"] == 500
    # positive tie group then a drop: running 500, 1000, 700 — drawdown 300
    pos = spark.createDataFrame(
        [
            ("T", "C", t1, d("5.00")),
            ("T", "C", t1, d("5.00")),
            ("T", "C", t2, d("-3.00")),
        ],
        "tenant string, name string, value_date timestamp, amount decimal(18,2)",
    )
    r = windows.running_balance_summary(pos).collect()[0]
    assert (r["final_cents"], r["peak_cents"], r["max_drawdown_cents"]) == (
        700,
        1000,
        300,
    )


def test_entry_smoke(spark):
    import importlib.util
    import os

    entry = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("entry_mod", entry)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.schema is not None
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_catalog_queries_cache_only_the_ivf_index_and_release_on_evict(spark):
    """The r2 persist-leak regression pin: multi-branch pipelines reuse
    intermediates via storage_checkpoint (files), never persist() — a
    long-lived server running catalog queries must not accumulate executor
    cache. The allowed cached artifacts are the session-scoped ANN indexes
    (IVF corpus and the r11 LSH bucketed corpus — both documented, both
    behind the same eviction API); after evicting them, zero persisted
    RDDs may remain."""
    from data_warehouse_spark.operators import similarity

    spark.catalog.clearCache()
    similarity.clear_ivf_cache()
    # snapshot, not absolute zero: other tests share this JVM and their
    # strays (if any) are not this test's subject
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for name in (
        "doc_minhash_lsh_dedup",
        "doc_neardup_clusters",  # iterative: per-round checkpoints must be files
        "sketch_suite",
        "ann_topk_methods",
    ):
        QUERIES[name].fn(spark, SF_DIR).collect()
    # at most the two index artifacts (IVF corpus + LSH bucketed corpus)
    # were added...
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before + 2
    # ...and eviction releases it completely
    similarity.clear_ivf_cache()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_scratch_root_keys_on_corpus_identity(tmp_path, monkeypatch):
    """Shared bench scratch must key on corpus CONTENT identity, not the
    sf_dir's leaf name: two corpora whose directories share a leaf name
    (.../runA/sf0.1 vs .../runB/sf0.1), an sf_dir regenerated in place
    (mtime/size change), and a different n_files layout knob must all land
    in DISTINCT scratch roots — a stale or foreign normalized copy is
    never served."""
    import os
    import time

    from data_warehouse_spark.catalog import _scratch_root

    monkeypatch.setenv("SPARK_GRAFT_BENCH_SCRATCH", str(tmp_path / "scratch"))
    a = tmp_path / "runA" / "sf0.1"
    b = tmp_path / "runB" / "sf0.1"
    for d in (a, b):
        os.makedirs(d)
        (d / "nation.parquet").write_bytes(b"x" * 10)

    root_a, reuse_a = _scratch_root(str(a), "base")
    root_b, _ = _scratch_root(str(b), "base")
    assert reuse_a and root_a is not None
    assert root_a != root_b, "same leaf name must not share a scratch root"

    # in-place regeneration (content change) → new root
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    (a / "nation.parquet").write_bytes(b"y" * 11)
    root_a2, _ = _scratch_root(str(a), "base")
    assert root_a2 != root_a, "regenerated corpus must not reuse stale copies"

    # layout knob (n_files) participates in the key
    root_k1, _ = _scratch_root(str(a), "base", extra="n_files=8")
    root_k2, _ = _scratch_root(str(a), "base", extra="n_files=32")
    assert root_k1 != root_k2

    # stable when nothing changed
    root_a3, _ = _scratch_root(str(a), "base")
    assert root_a3 == root_a2
