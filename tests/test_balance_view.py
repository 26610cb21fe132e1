"""Maintained balance rollup: fingerprint-gated maintenance from the
ingestion tick's adopted part files, provably-fresh-or-fallback serving.

Every path asserts against the ground truth the rollup replaces —
``ivm.compute_rollup`` over the live change table / the direct
``queries.account_balances`` aggregate — so a wrong maintenance step
cannot pass by agreeing with itself."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_spark.operators import balance_view, ivm
from data_warehouse_spark.operators import queries as wh
from data_warehouse_spark.sources import tables
from data_warehouse_spark.streaming.ingest import (
    ABC_PRIMARY_KEYS,
    ingest_abc_schema,
    warehouse_store,
)

ABC = balance_view.ABC_TABLE


def _changes(spark, rows):
    """rows: (tenant, name, amount_str, transaction) — the provenance
    columns made distinct per row so MERGE keeps everything."""
    data = [
        (
            t,
            n,
            __import__("datetime").datetime(2020, 1, 1),
            decimal.Decimal(a),
            t,
            trn,
            "t1",
            "c",
        )
        for (t, n, a, trn) in rows
    ]
    return spark.createDataFrame(data, ingest_abc_schema())


def _rollup_map(df):
    return {
        (r["tenant"], r["name"]): (r["n_rows"], r["nn_amount"], r["sum_amount"])
        for r in df.collect()
    }


def _ground_truth(store):
    return _rollup_map(
        ivm.compute_rollup(
            store.read(ABC), balance_view.GROUP_COLS, balance_view.SUM_COLS
        )
    )


def _walk(root):
    out = set()
    for dirpath, _d, files in os.walk(root):
        for f in files:
            out.add(os.path.join(dirpath, f))
    return out


def test_bootstrap_recompute_then_noop(spark, tmp_path):
    """First convergence over an externally loaded change table is a full
    recompute; a second convergence is a pure noop (byte-identical disk —
    the idle-tick zero-write contract extends to the rollup)."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.overwrite(ABC, _changes(spark, [("A", "x", "10.5", "t1"), ("A", "x", "2", "t2"), ("B", "y", "-3", "t3")]))
    assert balance_view.read_if_fresh(store) is None  # no rollup yet
    assert balance_view.maintain(store) == "recompute"
    fresh = balance_view.read_if_fresh(store)
    assert fresh is not None
    assert _rollup_map(fresh) == _ground_truth(store)
    before = _walk(store.root)
    assert balance_view.maintain(store) == "noop"
    assert _walk(store.root) == before


def test_delta_path_from_adopted_files_matches_recompute(spark, tmp_path):
    """A merge-append maintained through exactly the adopted part files
    equals the full recompute — including a new group and an existing
    group's increment."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "10", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    fp_before = balance_view.abc_fingerprint(store)
    store.merge_insert_missing(
        ABC,
        _changes(spark, [("A", "x", "5.25", "t2"), ("C", "z", "7", "t3")]),
        ABC_PRIMARY_KEYS,
    )
    assert store.last_adopted_files  # the CDC hand-off exists
    action = balance_view.maintain(
        store, fp_before=fp_before, adopted_files=store.last_adopted_files
    )
    assert action == "delta"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_crash_between_merge_and_maintain_recovers(spark, tmp_path):
    """Merge lands, maintenance never runs (crash) — the stale rollup is
    refused by the freshness check, and the next bare convergence repairs
    it via the EXACT stale-window delta (the appended-files inventory diff
    identifies precisely the unsummarized rows — r10's generalized CDC,
    which subsumes the old recompute-on-crash path), never by a blind
    serve."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "1", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "2", "t2")]), ABC_PRIMARY_KEYS)
    # crash window: rollup stale → the fast path must refuse to serve
    assert balance_view.read_if_fresh(store) is None
    # next tick's convergence: the appended-files window is intact, so
    # recovery is the exact delta apply (cheaper than recompute, same
    # ground truth)
    assert balance_view.maintain(store) == "delta"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_deferred_maintenance_accumulates_then_converges(spark, tmp_path):
    """r10 deferral contract: a busy tick passes ``defer_under_files`` and
    maintain does NOTHING while the append-only window is small — serving
    stays exact through the stale-window token — and the next bare call
    (the idle tick) converges ALL deferred appends in one combined exact
    delta, equal to ground truth."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "10", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)

    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "5", "t2")]), ABC_PRIMARY_KEYS)
    assert balance_view.maintain(store, defer_under_files=64) == "deferred"
    # the fast rollup path refuses (stale), but the serving bridge holds
    assert balance_view.read_if_fresh(store) is None
    tok = balance_view.serving_token(store)
    assert tok is not None and tok.startswith("window:")

    store.merge_insert_missing(
        ABC, _changes(spark, [("B", "y", "3", "t3"), ("A", "x", "-2", "t4")]),
        ABC_PRIMARY_KEYS,
    )
    assert balance_view.maintain(store, defer_under_files=64) == "deferred"

    # idle-tick convergence: BOTH deferred ticks in one exact delta apply
    assert balance_view.maintain(store) == "delta"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_deferral_bound_overflow_converges_in_tick(spark, tmp_path):
    """A window at-or-over the bound must converge in-tick, not defer —
    the bound caps the serving tier's per-request Arrow delta work."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "1", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "2", "t2")]), ABC_PRIMARY_KEYS)
    # the merge adopted >= 1 part file, so a bound of 1 cannot defer
    assert balance_view.maintain(store, defer_under_files=1) == "delta"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_stale_window_memoized_and_single_flighted(spark, tmp_path):
    """The window walk is O(partition dirs) of GIL-bound driver work and —
    with r10's deferred maintenance — the STEADY-STATE balance serving
    path: it must compute once per mutation epoch (memo) with concurrent
    callers funneled through one walker (single-flight; the stack-sampled
    bad-draw convoy: 32 threads re-walking per request, 62 s
    draws). Pin: N concurrent calls in a stable epoch = exactly one
    uncached computation, all callers get the identical result."""
    import threading as th

    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "1", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "2", "t2")]), ABC_PRIMARY_KEYS)
    store._window_memo = None  # force the next call to compute

    calls = []
    real = balance_view._stale_window_uncached

    def counting(s):
        calls.append(1)
        return real(s)

    results = []
    barrier = th.Barrier(8)

    def worker():
        barrier.wait()
        results.append(balance_view.stale_window(store))

    orig = balance_view._stale_window_uncached
    balance_view._stale_window_uncached = counting
    try:
        threads = [th.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        balance_view._stale_window_uncached = orig
    assert len(calls) == 1, f"{len(calls)} walks for 8 concurrent callers"
    assert len({r[0] for r in results}) == 1  # same window token for all
    # and the window is real: converging applies it as an exact delta
    assert balance_view.maintain(store) == "delta"


def test_replayed_merge_is_noop(spark, tmp_path):
    """Crash-replay regenerates the same batch; the PK merge inserts
    nothing, the fingerprint is unchanged, maintenance is a noop."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    batch = _changes(spark, [("A", "x", "4", "t1")])
    store.merge_insert_missing(ABC, batch, ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    fp_before = balance_view.abc_fingerprint(store)
    store.merge_insert_missing(ABC, batch, ABC_PRIMARY_KEYS)  # replay
    assert balance_view.abc_fingerprint(store) == fp_before
    assert (
        balance_view.maintain(
            store, fp_before=fp_before, adopted_files=store.last_adopted_files
        )
        == "noop"
    )


def test_external_overwrite_invalidates_then_recovers(spark, tmp_path):
    """Compaction or an external overwrite swaps the change table's
    version dir: the fingerprint moves, the fast path refuses, the next
    convergence recomputes."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.overwrite(ABC, _changes(spark, [("A", "x", "10", "t1")]))
    balance_view.maintain(store)
    assert balance_view.read_if_fresh(store) is not None
    store.overwrite(ABC, _changes(spark, [("A", "x", "99", "t1"), ("B", "y", "1", "t2")]))
    assert balance_view.read_if_fresh(store) is None
    assert balance_view.maintain(store) == "recompute"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_delta_survives_compaction_inside_merge(spark, tmp_path):
    """merge_insert_missing compacts when a partition fragments past the
    threshold, SWAPPING a new version dir while the adopted files stay in
    the retained previous one.  The delta path must keep working (its
    basePath is derived from the adopted files, not the current pointer)
    and the result must equal the recompute — the exact regression the
    50k-account ingest bench hit."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.compact_threshold = 2  # force compaction on the second append
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "1", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    results = []
    for i in range(2, 6):  # repeated appends → compactions fire mid-merge
        fp_before = balance_view.abc_fingerprint(store)
        store.merge_insert_missing(
            ABC, _changes(spark, [("A", "x", str(i), f"t{i}")]), ABC_PRIMARY_KEYS
        )
        results.append(
            balance_view.maintain(
                store, fp_before=fp_before, adopted_files=store.last_adopted_files
            )
        )
        assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)
    # at least one maintenance ran with a compaction-swapped pointer and
    # none were forced to recompute — the delta path held throughout
    assert results == ["delta"] * len(results)


def _partition_inodes(vdir):
    """{tenant-dir-name: frozenset(part-file inodes)} for a rollup version."""
    out = {}
    for entry in os.listdir(vdir):
        d = os.path.join(vdir, entry)
        if os.path.isdir(d) and entry.startswith("tenant="):
            out[entry] = frozenset(
                os.stat(os.path.join(dp, f)).st_ino
                for dp, _dn, fs in os.walk(d)
                for f in fs
                if f.endswith(".parquet")
            )
    return out


def test_delta_rewrites_only_touched_tenant_partitions(spark, tmp_path):
    """The partitioned-MERGE scale path: a tick touching tenant A must
    rewrite only A's rollup partition — every other tenant's files are
    hard-linked (same inodes) into the new snapshot.  This is the
    O(touched tenants) write bound that replaces the old full-publish
    (documented wrong past ~10M accounts)."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(
        ABC,
        _changes(spark, [("A", "x", "10", "t1"), ("B", "y", "5", "t2"), ("C", "z", "1", "t3")]),
        ABC_PRIMARY_KEYS,
    )
    balance_view.maintain(store)
    before = _partition_inodes(store._resolve(balance_view.ROLLUP_TABLE))
    assert set(before) == {"tenant=A", "tenant=B", "tenant=C"}

    fp_before = balance_view.abc_fingerprint(store)
    store.merge_insert_missing(
        ABC, _changes(spark, [("A", "x", "2.5", "t4")]), ABC_PRIMARY_KEYS
    )
    action = balance_view.maintain(
        store, fp_before=fp_before, adopted_files=store.last_adopted_files
    )
    assert action == "delta"
    after = _partition_inodes(store._resolve(balance_view.ROLLUP_TABLE))
    # untouched tenants: identical inodes (hard links, zero data rewritten)
    assert after["tenant=B"] == before["tenant=B"]
    assert after["tenant=C"] == before["tenant=C"]
    # the touched tenant was actually rewritten
    assert after["tenant=A"] != before["tenant=A"]
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_mixed_swap_sequence_always_equals_recompute(spark, tmp_path):
    """Arbitrary interleaving of appends (delta maintenance), external
    overwrites (recompute repair), replays (noop) and compactions keeps
    the MERGE-maintained rollup ≡ the full recompute at every step."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.compact_threshold = 2  # compactions fire mid-sequence
    actions = []

    def append_and_maintain(rows):
        fp_before = balance_view.abc_fingerprint(store)
        store.merge_insert_missing(ABC, _changes(spark, rows), ABC_PRIMARY_KEYS)
        actions.append(
            balance_view.maintain(
                store, fp_before=fp_before, adopted_files=store.last_adopted_files
            )
        )
        assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)

    append_and_maintain([("A", "x", "1", "t1"), ("B", "y", "2", "t2")])
    append_and_maintain([("A", "x", "3", "t3"), ("C", "z", "-4", "t4")])
    # external overwrite (e.g. a backfill) → fast path refuses, repair
    store.overwrite(
        ABC, _changes(spark, [("A", "x", "7", "t1"), ("D", "w", "0.5", "t9")])
    )
    assert balance_view.read_if_fresh(store) is None
    actions.append(balance_view.maintain(store))
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)
    # replayed batch → noop
    fpb = balance_view.abc_fingerprint(store)
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "7", "t1")]), ABC_PRIMARY_KEYS)
    actions.append(
        balance_view.maintain(store, fp_before=fpb, adopted_files=store.last_adopted_files)
    )
    append_and_maintain([("D", "w", "1.5", "t10"), ("E", "v", "9", "t11")])
    assert actions == ["recompute", "delta", "recompute", "noop", "delta"]


def test_torn_maintenance_disables_fast_path_until_repair(spark, tmp_path):
    """Crash between the MERGE and the state write: the live rollup no
    longer matches the recorded pair, so the fast path refuses and the
    next convergence repairs.  Simulated by mutating the rollup after a
    completed maintenance (same witness: state/rollup mismatch)."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(ABC, _changes(spark, [("A", "x", "1", "t1")]), ABC_PRIMARY_KEYS)
    balance_view.maintain(store)
    assert balance_view.read_if_fresh(store) is not None
    # a merge the state file never heard about (the torn window's effect)
    store.merge_upsert(
        balance_view.ROLLUP_TABLE,
        balance_view.read_if_fresh(store).limit(1).withColumn(
            "n_rows", F.lit(99).cast("long")
        ),
        balance_view.GROUP_COLS,
    )
    assert balance_view.freshness_token(store) is None
    assert balance_view.read_if_fresh(store) is None  # wrong data never served
    assert balance_view.maintain(store) == "recompute"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


def test_serving_equivalence_with_direct_aggregate(spark, tmp_path):
    """balances_from_rollup ≡ queries.account_balances for a key batch:
    same rows, same values, same NULL semantics, same dtype."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.overwrite(
        ABC,
        _changes(
            spark,
            [("A", "x", "10.5", "t1"), ("A", "x", "-0.5", "t2"), ("B", "y", "3", "t3")],
        ),
    )
    balance_view.maintain(store)
    keys = spark.createDataFrame(
        [("A", "x"), ("B", "y"), ("Z", "missing")], "tenant string, name string"
    )
    fast = balance_view.balances_from_rollup(balance_view.read_if_fresh(store), keys)
    direct = wh.account_balances(store.read(ABC), keys=keys)
    assert fast.schema["balance"].dataType == direct.schema["balance"].dataType
    as_map = lambda df: {  # noqa: E731
        (r["tenant"], r["name"]): r["balance"] for r in df.collect()
    }
    assert as_map(fast) == as_map(direct)


def test_deferral_bound_worst_case_window_serves_and_converges(spark, tmp_path):
    """r10 verdict item 7: pin the deferral's WORST case, not just its
    exactness.  Fill the append-only window to exactly bound-1 part files
    (the tick's bound is 24 — ingest.ROLLUP_DEFER_FILES) spanning
    MANY tenants, then assert (a) every deferral decision held to the
    bound, (b) the KV window path serves balances EXACTLY (rollup base +
    Arrow delta over all 23 files, zero Spark jobs) within a generous
    wall bound that still catches O(window^2) pathology, and (c) the
    overflow merge converges in ONE combined `delta` apply whose result
    equals ground truth."""
    import time

    from data_warehouse_spark.api.serving_cache import ServingCache

    bound = 24
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(
        ABC, _changes(spark, [("T00", "seed", "1", "t-seed")]), ABC_PRIMARY_KEYS
    )
    assert balance_view.maintain(store) == "recompute"

    # 22 more single-file merges across 11 tenants -> window = 23 files
    # (each merge adopts exactly one part file for its one-row batch)
    expected = {("T00", "seed"): decimal.Decimal("1")}
    i = 0
    while True:
        win = balance_view.stale_window(store)
        n_files = len(win[2]) if win else 0
        if n_files >= bound - 1:
            break
        t, n = f"T{i % 11:02d}", f"acc{i % 7}"
        amt = decimal.Decimal(str(i + 1))
        store.merge_insert_missing(
            ABC, _changes(spark, [(t, n, str(amt), f"t-{i}")]), ABC_PRIMARY_KEYS
        )
        expected[(t, n)] = expected.get((t, n), decimal.Decimal(0)) + amt
        assert balance_view.maintain(store, defer_under_files=bound) == "deferred"
        i += 1
    win = balance_view.stale_window(store)
    assert win is not None and len(win[2]) == bound - 1
    assert len({p.split("tenant=")[1].split("/")[0] for p in win[2]}) >= 10

    # (b) serving through the MAXIMAL window: exact and bounded
    cache = ServingCache(store)
    keys = sorted(expected)
    t0 = time.perf_counter()
    served = cache.kv_balances(keys)
    serve_sec = time.perf_counter() - t0
    assert served is not None, "window path must serve at the bound"
    assert cache.counters["kv_balance_window"] == 1
    got = {k: v for k, v in served.items()}
    for k, v in expected.items():
        assert got[k] == v, (k, got[k], v)
    assert serve_sec < 10.0, f"window serve took {serve_sec:.1f}s at 23 files"

    # (c) the overflow merge: bound reached -> in-tick converge, one
    # combined delta apply equal to ground truth
    store.merge_insert_missing(
        ABC, _changes(spark, [("T99", "over", "7", "t-over")]), ABC_PRIMARY_KEYS
    )
    t0 = time.perf_counter()
    action = balance_view.maintain(store, defer_under_files=bound)
    converge_sec = time.perf_counter() - t0
    assert action == "delta"
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)
    assert converge_sec < 30.0, f"max-deferral converge took {converge_sec:.1f}s"


def test_arrow_rollup_equals_compute_rollup(spark, tmp_path, monkeypatch):
    """The bootstrap's pyarrow group-by over the change table's part files
    equals ``ivm.compute_rollup`` over the same table: an all-NULL group
    sums to NULL with a non-null count of 0, and sums past 18 integer
    digits (two decimal(28,10) maxima) stay exact in decimal(38,10).
    ``maintain`` records which writer published the rollup: pyarrow
    under the cut-off, ivm plus Spark at a cut-off of 0, the same rows."""
    big = "999999999999999999.9999999999"
    nullable = T.StructType([
        T.StructField(f.name, f.dataType, f.name != "side") for f in ingest_abc_schema().fields
    ])
    rows = [
        ("A", "x", "10.5", "t1"), ("A", "x", "-2", "t2"), ("B", "y", big, "t3"),
        ("B", "y", big, "t4"), ("B", "z", None, "t5"), ("B", "z", None, "t6"),
        ("C", "w", None, "t7"), ("C", "w", "1", "t8"),
    ]
    data = [
        (t, n, datetime.datetime(2020, 1, 1), None if a is None else decimal.Decimal(a), t, trn, "t1", "c")
        for t, n, a, trn in rows
    ]
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.overwrite(ABC, spark.createDataFrame(data, nullable))
    got = balance_view._arrow_rollup(store)
    assert got.schema.field("sum_amount").type == pa.decimal128(38, 10)
    want = _ground_truth(store)
    assert {
        (r["tenant"], r["name"]): (r["n_rows"], r["nn_amount"], r["sum_amount"])
        for r in got.to_pylist()
    } == want
    assert want[("B", "z")] == (2, 0, None)
    assert want[("B", "y")][2] == decimal.Decimal("1999999999999999999.9999999998")
    assert balance_view.maintain(store) == "recompute"
    assert store.last_merge_path[balance_view.ROLLUP_TABLE] == "arrow"
    assert _rollup_map(balance_view.read_if_fresh(store)) == want
    store.overwrite(ABC, spark.createDataFrame(data[:-1], nullable))
    monkeypatch.setattr(tables, "ARROW_COMMIT_MAX_ROWS", 0)
    assert balance_view._arrow_rollup(store) is None
    assert balance_view.maintain(store) == "recompute"
    assert store.last_merge_path[balance_view.ROLLUP_TABLE] == "spark"
    monkeypatch.undo()
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)


@pytest.mark.parametrize("writer", ["arrow", "spark"])
def test_window_delta_on_both_writers_equals_recompute(spark, tmp_path, monkeypatch, writer):
    """The convergence of a stale window folds the appended files into the
    rollup — with pyarrow under the cut-off, submitting no Spark job, and
    with Spark above it — and either way equals the recompute: an existing
    group's increment, a new group of a known tenant and a new tenant."""
    store = warehouse_store(spark, str(tmp_path / "wh"))
    store.merge_insert_missing(
        ABC, _changes(spark, [("A", "x", "10", "t1"), ("B", "y", "1", "t2")]), ABC_PRIMARY_KEYS
    )
    assert balance_view.maintain(store) == "recompute"
    store.merge_insert_missing(
        ABC,
        _changes(spark, [("A", "x", "5.25", "t3"), ("A", "w", "-1", "t4"), ("C", "z", "7", "t5")]),
        ABC_PRIMARY_KEYS,
    )
    if writer == "spark":
        monkeypatch.setattr(tables, "ARROW_COMMIT_MAX_ROWS", -1)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert balance_view.maintain(store) == "delta"
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert store.last_merge_path[balance_view.ROLLUP_TABLE] == writer
    assert bool(jobs) == (writer == "spark"), jobs
    monkeypatch.undo()
    assert _rollup_map(balance_view.read_if_fresh(store)) == _ground_truth(store)
