"""TableStore snapshot-versioning and copy-on-write MERGE guarantees."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from data_warehouse_spark.sources.tables import TableStore

SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("v", T.IntegerType(), False),
    ]
)


def _store(spark, tmp_path) -> TableStore:
    return TableStore(
        spark, str(tmp_path / "wh"), {"t": SCHEMA}, partitions={"t": ["tenant"]}
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _part_files(store: TableStore, name: str, part: str) -> dict[str, int]:
    """{basename: inode} of parquet files in one partition of the CURRENT
    version."""
    vdir = store._resolve(name)
    pdir = os.path.join(vdir, part)
    out = {}
    for dirpath, _d, files in os.walk(pdir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[f] = os.stat(p).st_ino
    return out


def test_upsert_rewrites_only_touched_partition(spark, tmp_path):
    """An upsert touching tenant A must hard-link tenant B's files unchanged
    into the new snapshot (copy-on-write, not O(table) rewrite)."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t",
        _rows(spark, [("A", "x", 1), ("A", "y", 1), ("B", "x", 1)]),
        ["tenant", "name"],
    )
    b_before = _part_files(store, "t", "tenant=B")
    assert b_before

    ins, upd = store.merge_upsert("t", _rows(spark, [("A", "x", 2)]), ["tenant", "name"])
    assert (ins, upd) == (0, 1)
    # same basenames AND same inodes: linked, not rewritten
    assert _part_files(store, "t", "tenant=B") == b_before
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 2, ("A", "y"): 1, ("B", "x"): 1}


def test_reader_resolved_before_swap_still_reads(spark, tmp_path):
    """A plan built against the pre-swap snapshot must still collect after
    an overwrite (the previous version is retained for in-flight readers)."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing("t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"])
    old_plan = store.read("t")  # resolves the current pointer NOW
    store.overwrite("t", _rows(spark, [("A", "x", 2)]))
    # old snapshot files still on disk → the stale plan completes
    assert [r["v"] for r in old_plan.collect()] == [1]
    assert [r["v"] for r in store.read("t").collect()] == [2]


def test_version_pruning_keeps_current_and_previous(spark, tmp_path):
    store = _store(spark, tmp_path)
    for i in range(4):
        store.overwrite("t", _rows(spark, [("A", "x", i)]))
    tdir = store._table_dir("t")
    versions = [e for e in os.listdir(tdir) if e.startswith("v-")]
    assert len(versions) == 2  # current + previous, older pruned
    assert [r["v"] for r in store.read("t").collect()] == [3]


def test_insert_missing_never_forces_broadcast_of_table_side(spark, tmp_path):
    """The MERGE anti-join must not carry a broadcast HINT on the current
    table's key set — at 100 TB that side is unbounded and a forced
    broadcast is a driver OOM; AQE may still pick broadcast when the pruned
    side is measurably small, which is fine (runtime decision, not a
    hint)."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing("t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"])
    store.merge_insert_missing("t", _rows(spark, [("A", "y", 1)]), ["tenant", "name"])
    plan = store.last_insert_plan._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert "ResolvedHint" not in plan and "broadcast" not in plan.lower()


def test_insert_missing_appends_into_current_version(spark, tmp_path):
    """File-level append must not create a new version (no pointer churn for
    additive writes) and must dedupe on PK."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing("t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"])
    v1 = store._resolve("t")
    n = store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 9), ("B", "z", 1)]), ["tenant", "name"]
    )
    assert n == 1  # ("A","x") dropped by the anti-join
    assert store._resolve("t") == v1
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 1, ("B", "z"): 1}


def _read_version(spark, vdir):
    return spark.read.schema(SCHEMA).parquet(vdir)


def test_time_travel_reads_previous_snapshot(spark, tmp_path):
    """Retention: a swap keeps the previous version dir on disk, readable
    as it was, for readers that resolved it before the swap; the next swap
    prunes it."""
    store = _store(spark, tmp_path)
    store.overwrite("t", _rows(spark, [("A", "x", 1)]))
    v1 = store._resolve("t")
    store.overwrite("t", _rows(spark, [("A", "x", 2)]))
    v2 = store._resolve("t")
    assert v2 != v1 and os.path.isdir(v1)  # survives one swap
    assert [r["v"] for r in _read_version(spark, v1).collect()] == [1]
    assert [r["v"] for r in store.read("t").collect()] == [2]
    store.overwrite("t", _rows(spark, [("A", "x", 3)]))
    assert not os.path.exists(v1)  # pruned at the next
    assert [r["v"] for r in _read_version(spark, v2).collect()] == [2]


def test_time_travel_after_merge_shows_pre_merge_state(spark, tmp_path):
    """The same retention across a copy-on-write upsert: the pre-merge
    version dir still holds the pre-merge rows after the merge swaps, and
    is pruned by the write after it."""
    store = _store(spark, tmp_path)
    store.overwrite("t", _rows(spark, [("A", "x", 1)]))
    before_vdir = store._resolve("t")
    store.merge_upsert("t", _rows(spark, [("A", "x", 9), ("A", "y", 1)]), ["tenant", "name"])
    now = {(r["name"], r["v"]) for r in store.read("t").collect()}
    before = {(r["name"], r["v"]) for r in _read_version(spark, before_vdir).collect()}
    assert now == {("x", 9), ("y", 1)}
    assert before == {("x", 1)}
    store.merge_upsert("t", _rows(spark, [("A", "z", 2)]), ["tenant", "name"])
    assert not os.path.exists(before_vdir)


def test_append_path_compacts_small_files(spark, tmp_path):
    """Many consecutive tiny appends must leave O(1) files per touched
    partition (auto-compaction at threshold), with contents intact and
    untouched partitions hard-linked, not rewritten."""
    store = TableStore(
        spark,
        str(tmp_path / "wh"),
        {"t": SCHEMA},
        partitions={"t": ["tenant"]},
        compact_threshold=8,
    )
    store.merge_insert_missing("t", _rows(spark, [("B", "base", 0)]), ["tenant", "name"])
    b_before = _part_files(store, "t", "tenant=B")
    for i in range(50):
        store.merge_insert_missing(
            "t", _rows(spark, [("A", f"n{i}", i)]), ["tenant", "name"]
        )
    a_files = _part_files(store, "t", "tenant=A")
    assert len(a_files) <= 8 + 1, f"{len(a_files)} files — compaction not engaging"
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert len(rows) == 51 and rows[("A", "n49")] == 49 and rows[("B", "base")] == 0
    # B was never fragmented: every surviving compaction hard-linked its
    # files (same inodes), never rewrote them
    b_after = _part_files(store, "t", "tenant=B")
    assert set(b_after.values()) <= set(b_before.values())


def test_manual_compact_noop_below_threshold(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.merge_insert_missing("t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"])
    v1 = store._resolve("t")
    assert store.compact("t") == 0  # healthy table: no new version, no churn
    assert store._resolve("t") == v1


def test_upsert_null_partition_value_not_duplicated(spark, tmp_path):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; the
    copy-on-write upsert must treat that dir as TOUCHED (rewritten), not
    hard-link the old files alongside the new ones (row duplication)."""
    nullable = T.StructType(
        [
            T.StructField("tenant", T.StringType(), True),
            T.StructField("name", T.StringType(), False),
            T.StructField("v", T.IntegerType(), False),
        ]
    )
    store = TableStore(
        spark, str(tmp_path / "wh"), {"t": nullable}, partitions={"t": ["tenant"]}
    )
    store.overwrite(
        "t", spark.createDataFrame([(None, "x", 1), ("B", "y", 1)], nullable)
    )
    ins, upd = store.merge_upsert(
        "t", spark.createDataFrame([(None, "x", 2)], nullable), ["tenant", "name"]
    )
    assert (ins, upd) == (0, 1)
    rows = [(r["tenant"], r["name"], r["v"]) for r in store.read("t").collect()]
    assert sorted(rows, key=str) == [("B", "y", 1), (None, "x", 2)]


def test_compact_clusters_files_by_sort_key(spark, tmp_path):
    """With cluster_by, compaction rewrites fragmented files SORTED by the
    key, so each file's parquet row groups carry tight disjoint min/max
    stats (row-group skipping for point/range reads) — append order is
    arbitrary, the rewrite restores locality."""
    import pyarrow.parquet as pq

    store = TableStore(
        spark,
        str(tmp_path / "wh"),
        {"t": SCHEMA},
        compact_threshold=4,
        cluster_by={"t": ["name"]},
    )
    # interleaved appends: keys arrive in adversarial (descending) order
    for i in range(12):
        store.merge_insert_missing(
            "t", _rows(spark, [("A", f"n{99 - i:02d}", i)]), ["tenant", "name"]
        )
    store.compact("t", threshold=1)
    vdir = store._resolve("t")
    import os

    pq_files = [
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(vdir)
        for f in fns
        if f.endswith(".parquet")
    ]
    assert pq_files
    for f in pq_files:
        vals = pq.read_table(f, columns=["name"])["name"].to_pylist()
        assert vals == sorted(vals), f"{f} not clustered by name"
    # contents intact after the clustered rewrite
    rows = {r["name"]: r["v"] for r in store.read("t").collect()}
    assert len(rows) == 12 and rows["n99"] == 0 and rows["n88"] == 11


def test_merge_delete_rewrites_only_touched_partition(spark, tmp_path):
    """Deleting tenant-A keys must hard-link tenant B's files unchanged —
    the right-to-be-forgotten path is copy-on-write like the upsert."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t",
        _rows(spark, [("A", "x", 1), ("A", "y", 1), ("B", "x", 1)]),
        ["tenant", "name"],
    )
    b_before = _part_files(store, "t", "tenant=B")
    before_vdir = store._resolve("t")

    n = store.merge_delete("t", _rows(spark, [("A", "x", 0)]), ["tenant", "name"])
    assert n == 1
    assert _part_files(store, "t", "tenant=B") == b_before
    rows = {(r["tenant"], r["name"]) for r in store.read("t").collect()}
    assert rows == {("A", "y"), ("B", "x")}
    # the previous version dir still holds the deleted row until the next
    # write prunes it
    prev = {(r["tenant"], r["name"]) for r in _read_version(spark, before_vdir).collect()}
    assert ("A", "x") in prev
    store.merge_delete("t", _rows(spark, [("B", "x", 0)]), ["tenant", "name"])
    assert not os.path.exists(before_vdir)


def test_merge_delete_is_idempotent_and_noop_safe(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 1), ("B", "x", 1)]), ["tenant", "name"]
    )
    vdir = store._resolve("t")
    assert store.merge_delete("t", _rows(spark, [("A", "x", 0)]), ["tenant", "name"]) == 1
    # replayed deletion request: deletes nothing, creates no new version
    vdir2 = store._resolve("t")
    assert store.merge_delete("t", _rows(spark, [("A", "x", 0)]), ["tenant", "name"]) == 0
    assert store._resolve("t") == vdir2 != vdir
    # deleting a key that never existed is a no-op too
    assert store.merge_delete("t", _rows(spark, [("C", "q", 0)]), ["tenant", "name"]) == 0


def test_concurrent_merges_on_independent_tables(spark, tmp_path):
    """The r10 ingestion tick merges transfer + balance-change CONCURRENTLY
    (two threads, two tables). Pin the store-level contract that makes
    that safe: every row lands exactly once per table (PK idempotence
    intact), both tables' fingerprints witness their final content, the
    lock-guarded mutation counter took every bump (4 per adopt-path merge:
    start/end x adopt; a lost += under GIL preemption was the hazard),
    driver-hint kwargs engaged, and a concurrent reader thread polling
    table_fingerprint never raises mid-merge."""
    import threading

    from data_warehouse_spark.operators import balance_view

    store = TableStore(
        spark,
        str(tmp_path / "wh"),
        {"a": SCHEMA, "b": SCHEMA},
        partitions={"a": ["tenant"], "b": ["tenant"]},
    )
    store.merge_insert_missing("a", _rows(spark, [("T0", "seed", 0)]), ["tenant", "name"])
    store.merge_insert_missing("b", _rows(spark, [("T0", "seed", 0)]), ["tenant", "name"])

    stop = threading.Event()
    reader_errors: list[Exception] = []

    def reader():
        while not stop.is_set():
            try:
                balance_view.table_fingerprint(store, "a")
                balance_view.table_fingerprint(store, "b")
            except Exception as e:  # noqa: BLE001 — the pin IS no-raise
                reader_errors.append(e)
                return

    rt = threading.Thread(target=reader)
    rt.start()
    try:
        for wave in range(1, 4):
            rows_a = [(f"T{wave}", f"a{i}", wave) for i in range(5)]
            rows_b = [(f"T{wave}", f"b{i}", wave) for i in range(5)]
            before = store.mutations
            ta = threading.Thread(
                target=store.merge_insert_missing,
                args=("a", _rows(spark, rows_a), ["tenant", "name"]),
                kwargs={"partition_values": [(f"T{wave}",)],
                        "assume_nonempty": True},
            )
            tb = threading.Thread(
                target=store.merge_insert_missing,
                args=("b", _rows(spark, rows_b), ["tenant", "name"]),
                kwargs={"partition_values": [(f"T{wave}",)],
                        "assume_nonempty": True},
            )
            ta.start(); tb.start(); ta.join(); tb.join()
            # 2 merges x 2 bumps (adopt start/end); compaction (if it
            # fired) only adds more — never fewer
            assert store.mutations >= before + 4
    finally:
        stop.set()
        rt.join()
    assert not reader_errors, reader_errors

    # replay the last wave concurrently: PK merge must drop every duplicate
    ta = threading.Thread(
        target=store.merge_insert_missing,
        args=("a", _rows(spark, [("T3", f"a{i}", 3) for i in range(5)]),
              ["tenant", "name"]),
    )
    tb = threading.Thread(
        target=store.merge_insert_missing,
        args=("b", _rows(spark, [("T3", f"b{i}", 3) for i in range(5)]),
              ["tenant", "name"]),
    )
    ta.start(); tb.start(); ta.join(); tb.join()

    assert store.read("a").count() == 1 + 15
    assert store.read("b").count() == 1 + 15
    # fingerprint = pure content witness: recomputed-from-scratch equals
    # the memo the concurrent epochs left behind
    for t in ("a", "b"):
        from data_warehouse_spark.operators.balance_view import _walk_fingerprint
        assert balance_view.table_fingerprint(store, t) == _walk_fingerprint(store, t)


def _flagged(spark, rows):
    schema = T.StructType(
        list(SCHEMA.fields) + [T.StructField("__ins__", T.BooleanType(), False)]
    )
    return spark.createDataFrame(rows, schema)


def test_upsert_insert_only_rows_never_overwrite(spark, tmp_path):
    """``insert_only_col``: in ONE fused MERGE, flagged rows get DO NOTHING
    semantics (existing row wins — anti-joined against the table itself,
    not any external index) while unflagged rows keep DO UPDATE. This is
    the guarantee that a KV-marks false negative can never rewind a live
    account's watermarks to the discovery (0,0) sentinel."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 5), ("B", "y", 7)]), ["tenant", "name"]
    )
    store.merge_upsert(
        "t",
        _flagged(
            spark,
            [
                ("A", "x", 0, True),   # stale discovery of a LIVE row: must lose
                ("A", "new", 1, True), # genuine discovery: must insert
                ("B", "y", 9, False),  # marker advance: must win
            ],
        ),
        ["tenant", "name"],
        insert_only_col="__ins__",
    )
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 5, ("A", "new"): 1, ("B", "y"): 9}
    # the flag column is never written
    assert "__ins__" not in store.read("t").columns


def test_upsert_insert_only_on_fresh_table(spark, tmp_path):
    """First write through the flagged path: everything inserts, the flag
    column is dropped before the overwrite."""
    store = _store(spark, tmp_path)
    store.merge_upsert(
        "t",
        _flagged(spark, [("A", "x", 1, True), ("A", "y", 2, False)]),
        ["tenant", "name"],
        insert_only_col="__ins__",
    )
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 1, ("A", "y"): 2}
    assert "__ins__" not in store.read("t").columns


def test_upsert_insert_only_full_rewrite_path(spark, tmp_path):
    """Same semantics through _upsert_full (unpartitioned table)."""
    store = TableStore(spark, str(tmp_path / "wh2"), {"t": SCHEMA})
    store.merge_insert_missing("t", _rows(spark, [("A", "x", 5)]), ["tenant", "name"])
    store.merge_upsert(
        "t",
        _flagged(spark, [("A", "x", 0, True), ("A", "z", 3, True)]),
        ["tenant", "name"],
        insert_only_col="__ins__",
    )
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 5, ("A", "z"): 3}


def test_insert_missing_dir_existence_skip_and_replay(spark, tmp_path):
    """Dir-existence pruning (r11): a hinted batch whose partition values
    have NO partition dir skips the anti-join outright (no Join in the
    written plan — the steady tick's fresh-tenant wave), and a REPLAY of
    the same batch — dirs now present — re-engages the anti-join and
    inserts nothing. The skip must never survive into a state where it
    could double-insert."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"]
    )
    batch = [("NEW", "a", 1), ("NEW", "b", 2)]
    n = store.merge_insert_missing(
        "t",
        _rows(spark, batch),
        ["tenant", "name"],
        partition_values=[("NEW",)],
        assume_nonempty=True,
        assume_unique=True,
    )
    assert n == 2
    plan = store.last_insert_plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # anti-join skipped: no dir could conflict
    # replay: tenant=NEW dir exists now -> anti-join engages, 0 inserted
    n2 = store.merge_insert_missing(
        "t",
        _rows(spark, batch),
        ["tenant", "name"],
        partition_values=[("NEW",)],
        assume_nonempty=True,
        assume_unique=True,
    )
    assert n2 == 0
    plan2 = store.last_insert_plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 1, ("NEW", "a"): 1, ("NEW", "b"): 2}


def test_insert_missing_dir_skip_quoted_and_null_values(spark, tmp_path):
    """The existence check must see through Spark's hive-dir encodings:
    URL-quoted values (spaces, slashes) and the NULL sentinel dir. A
    replayed batch must insert ZERO rows — a false 'absent' verdict here
    would duplicate PKs."""
    store = TableStore(
        spark, str(tmp_path / "wh"), {"t": SCHEMA}, partitions={"t": ["tenant"]}
    )
    nullable = T.StructType(
        [
            T.StructField("tenant", T.StringType(), True),
            T.StructField("name", T.StringType(), False),
            T.StructField("v", T.IntegerType(), False),
        ]
    )
    store.schemas["t"] = nullable
    batch = [("a b/c", "x", 1), (None, "y", 2)]
    df = spark.createDataFrame(batch, nullable)
    pvals = [("a b/c",), (None,)]
    n = store.merge_insert_missing(
        "t", df, ["tenant", "name"],
        partition_values=pvals, assume_nonempty=True, assume_unique=True,
    )
    assert n == 2
    n2 = store.merge_insert_missing(
        "t", spark.createDataFrame(batch, nullable), ["tenant", "name"],
        partition_values=pvals, assume_nonempty=True, assume_unique=True,
    )
    assert n2 == 0  # both encodings recognized as present -> anti-join ran
    assert store.read("t").count() == 2


def test_upsert_prepare_fresh_partition_skips_table_read(spark, tmp_path):
    """merge_upsert_prepare on a tenant with no partition dir stages exactly
    the batch (no table read, no anti-joins) — and a SECOND prepare on the
    now-present tenant keeps full DO UPDATE / insert-only semantics."""
    store = _store(spark, tmp_path)
    store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"]
    )
    prep = store.merge_upsert_prepare(
        "t",
        _flagged(spark, [("NEW", "a", 1, True), ("NEW", "b", 2, False)]),
        ["tenant", "name"],
        [("NEW",)],
        insert_only_col="__ins__",
        assume_unique=True,
    )
    assert prep is not None
    store.merge_upsert_commit(prep)
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 1, ("NEW", "a"): 1, ("NEW", "b"): 2}
    assert "__ins__" not in store.read("t").columns
    # replay + advance against the now-present tenant: insert-only row must
    # LOSE to the live row, the unflagged row must WIN (DO UPDATE)
    prep2 = store.merge_upsert_prepare(
        "t",
        _flagged(spark, [("NEW", "a", 0, True), ("NEW", "b", 9, False)]),
        ["tenant", "name"],
        [("NEW",)],
        insert_only_col="__ins__",
        assume_unique=True,
    )
    store.merge_upsert_commit(prep2)
    rows = {(r["tenant"], r["name"]): r["v"] for r in store.read("t").collect()}
    assert rows == {("A", "x"): 1, ("NEW", "a"): 1, ("NEW", "b"): 9}


def test_insert_missing_replay_adopts_no_empty_file_and_laps_total(spark, tmp_path):
    """ADVICE r11 items: (1) a replayed non-partitioned batch whose
    anti-join empties must adopt ZERO files — an empty non-partitioned
    write leaves one schema-only 0-row part file (SPARK-23271) and
    _adopt_files must skip it, not surface it via the file-level CDC;
    (2) every merge_insert_missing call leaves the full laps contract
    (plan/write_action/adopt), including the empty-batch early return."""
    store = TableStore(spark, str(tmp_path / "wh"), {"t": SCHEMA})  # no partitions
    batch = [("A", "x", 1), ("A", "y", 2)]
    assert store.merge_insert_missing("t", _rows(spark, batch), ["tenant", "name"]) == 2
    vdir = store._resolve("t")
    files_before = sorted(os.listdir(vdir))
    # replay with assume_nonempty: anti-join empties -> staging write emits
    # only the 0-row part file, which must NOT be adopted
    n = store.merge_insert_missing(
        "t", _rows(spark, batch), ["tenant", "name"],
        assume_nonempty=True, assume_unique=True,
    )
    assert n == 0
    assert store.last_adopted_files == []
    assert sorted(os.listdir(vdir)) == files_before
    assert set(store.last_merge_laps["t"]) == {"plan", "write_action", "adopt"}
    # empty-batch early return (isEmpty probe path) keeps the laps total too
    n2 = store.merge_insert_missing(
        "t", _rows(spark, []), ["tenant", "name"]
    )
    assert n2 == 0
    assert set(store.last_merge_laps["t"]) == {"plan", "write_action", "adopt"}


@pytest.mark.parametrize("partitioned", [False, True])
def test_first_write_of_empty_batch_leaves_table_absent(spark, tmp_path, partitioned):
    """The first write of a table, passed ``assume_nonempty=True`` with a
    batch that turns out empty, must not publish a version dir without a
    parquet file: the table stays absent, ``read`` serves the empty schema
    frame, and the next nonempty write publishes normally."""
    store = (
        _store(spark, tmp_path)
        if partitioned
        else TableStore(spark, str(tmp_path / "wh"), {"t": SCHEMA})
    )
    n = store.merge_insert_missing(
        "t", _rows(spark, []), ["tenant", "name"],
        partition_values=[] if partitioned else None,
        assume_nonempty=True, assume_unique=True,
    )
    assert n == 0
    assert not store.exists("t")
    assert store.read("t").collect() == []
    assert store.read("t").schema == SCHEMA
    assert store.merge_insert_missing(
        "t", _rows(spark, [("A", "x", 1)]), ["tenant", "name"]
    ) == 1
    assert [tuple(r) for r in store.read("t").collect()] == [("A", "x", 1)]
