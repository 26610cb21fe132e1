"""The Arrow commit path of the TableStore verbs: a driver-owned
``pyarrow.Table`` batch commits with no Spark job, in exactly the layout the
Spark plan writes, and the ingestion tick stays exact through crashes on it.

Every check compares against the Spark path over the same rows, or against
the rows the writer of the primary tree knows the ingest must produce."""

from __future__ import annotations

import datetime
import decimal
import os
import time

import pyarrow.parquet as pq
import pytest

from data_warehouse_spark.api.kv_tier import KVTier
from data_warehouse_spark.materialize import driver_df
from data_warehouse_spark.operators import balance_view
from data_warehouse_spark.sources import tables
from data_warehouse_spark.sources.arrow_parts import arrow_table
from data_warehouse_spark.streaming import ingest
from data_warehouse_spark.streaming.ingest import (
    ABC_PRIMARY_KEYS,
    IngestionPipeline,
    warehouse_store,
)

pytestmark = pytest.mark.slow

D = decimal.Decimal
# tenants whose hive dir names need Spark's escaping, and ones that must
# stay literal (space, non-ASCII)
TENANTS = ["plain", "a b", "s/l", "p%c", "e=q", "ünï", "x:y#z"]
TRANSFER_KEYS = ["tenant", "transaction", "transfer"]
ACCOUNT_KEYS = ["tenant", "name"]


# --- layout parity: the same rows through both writers ----------------------

def _transfer_rows(wave: int) -> list[tuple]:
    rows = []
    for i, t in enumerate(TENANTS):
        for j in range(5):
            # transaction ids out of order, so sort-on-write is exercised
            txn = f"txn-{(j * 7 + wave * 3) % 11:02d}-{wave}"
            rows.append((
                t, txn, f"tr{j % 2}", 1 if j % 3 else 2,
                t, f"acc{j % 3}", t, f"acc{(j + 1) % 3}",
                D(f"{wave}{j}.{i}250000001"), "EUR",
                datetime.datetime(2024, 1 + (i + j + wave) % 3, 1 + j, 4, 5, 6, 123456 * j % 1_000_000),
            ))
    return rows


def _account_rows(wave: int, tenants) -> list[tuple]:
    return [
        (t, f"n{(k * 5 + wave) % 9}", "CZK", f"F{wave}", wave, k)
        for t in tenants for k in range(4)
    ]


def _layout(spark, store, name, files) -> dict[str, dict]:
    """Per hive dir of ``files`` (relative to the current version): the
    part file's column descriptors, the schema Spark infers from it and
    its stored rows in file order."""
    vdir = store._resolve(name)
    out: dict[str, dict] = {}
    for path in files:
        rel = os.path.relpath(os.path.dirname(path), vdir)
        assert rel not in out, (name, rel)  # one part file per touched dir
        md = pq.read_metadata(path)
        cols = [md.schema.column(i) for i in range(md.num_columns)]
        out[rel] = {
            "columns": [
                (c.name, c.physical_type, str(c.logical_type), c.converted_type,
                 c.max_definition_level, c.length)
                for c in cols
            ],
            "spark_schema": spark.read.parquet(path).schema,
            "rows": pq.read_table(path, coerce_int96_timestamp_unit="us").to_pylist(),
        }
    return out


def _assert_same_layout(name, want: dict, got: dict) -> None:
    assert sorted(got) == sorted(want), name  # dir names
    for rel in want:
        assert got[rel]["columns"] == want[rel]["columns"], (name, rel)
        assert got[rel]["spark_schema"] == want[rel]["spark_schema"], (name, rel)
        if name == "account_balance_change":
            # rows tied on cluster_by (name, value_date) keep no defined order
            key = lambda r: (r["name"], r["value_date"])  # noqa: E731
            assert [key(r) for r in got[rel]["rows"]] == [key(r) for r in want[rel]["rows"]]
            assert sorted(map(str, got[rel]["rows"])) == sorted(map(str, want[rel]["rows"]))
        else:  # sort order and stored instants, row by row
            assert got[rel]["rows"] == want[rel]["rows"], (name, rel)


def _write_both(spark, stores, name, rows, struct, keys) -> dict:
    """One insert-missing batch through each writer; asserts the Arrow
    store took the Arrow path and both adopted the same layout."""
    layouts = {}
    for mode, store in stores.items():
        batch = driver_df(spark, rows, struct) if mode == "spark" else arrow_table(rows, struct)
        store.merge_insert_missing(name, batch, keys)
        assert store.last_merge_path[name] == mode
        layouts[mode] = _layout(spark, store, name, store.last_adopted_files)
    _assert_same_layout(name, layouts["spark"], layouts["arrow"])
    return layouts["arrow"]


def _upsert_both(spark, stores, rows, struct, tenants) -> dict:
    layouts = {}
    for mode, store in stores.items():
        batch = driver_df(spark, rows, struct) if mode == "spark" else arrow_table(rows, struct)
        prep = store.merge_upsert_prepare(
            "account", batch, ACCOUNT_KEYS, [(t,) for t in tenants], assume_unique=True
        )
        assert prep is not None
        store.merge_upsert_commit(prep)
        assert store.last_merge_path["account"] == mode
        vdir = store._resolve("account")
        layouts[mode] = _layout(spark, store, "account", [
            os.path.join(vdir, d, f)
            for d in sorted(os.listdir(vdir)) if d in {f"tenant={store._part_dir_value(t)}" for t in tenants}
            for f in os.listdir(os.path.join(vdir, d)) if f.endswith(".parquet")
        ])
    _assert_same_layout("account", layouts["spark"], layouts["arrow"])
    return layouts["arrow"]


def test_arrow_and_spark_writers_lay_out_identical_tables(spark, tmp_path):
    """Rows written once through the Arrow path and once through Spark:
    same hive dir names (escaped tenants included), same parquet physical
    schemas and Spark-inferred schemas, same sort order and stored instants,
    and the same answers from every reader — store.read, the KV tier's
    lookup / sorted_page / delta_sums, compaction and the balance rollup."""
    stores = {
        mode: warehouse_store(spark, str(tmp_path / mode)) for mode in ("spark", "arrow")
    }
    tstruct, abc_struct = ingest._TRANSFER_BATCH, ingest._ABC_BATCH
    for wave in (1, 2):
        rows = _transfer_rows(wave)
        _write_both(spark, stores, "transfer", rows, tstruct, TRANSFER_KEYS)
        _write_both(
            spark, stores, "account_balance_change", ingest._signed_change_rows(rows), abc_struct,
            ABC_PRIMARY_KEYS,
        )
    # a replayed batch inserts nothing on either path
    for mode, store in stores.items():
        replay = _transfer_rows(2)
        batch = driver_df(spark, replay, tstruct) if mode == "spark" else arrow_table(replay, tstruct)
        assert store.merge_insert_missing("transfer", batch, TRANSFER_KEYS) == 0
    # account: a first write, then a prepared upsert touching present
    # tenants (rewrite) and new ones (batch only)
    acct = ingest.ACCOUNT_SCHEMA
    first = _write_both(spark, stores, "account", _account_rows(1, TENANTS[:4]), acct, ACCOUNT_KEYS)
    assert {"tenant=a b", "tenant=s%2Fl", "tenant=p%25c"} <= set(first)
    upd = _upsert_both(spark, stores, _account_rows(2, TENANTS[2:]), acct, TENANTS[2:])
    assert {"tenant=e%3Dq", "tenant=ünï", "tenant=x%3Ay%23z"} <= set(upd)

    def snapshot(store):
        return {
            name: sorted(map(tuple, store.read(name).collect()), key=str)
            for name in ("transfer", "account_balance_change", "account")
        }

    assert snapshot(stores["arrow"]) == snapshot(stores["spark"])

    def kv_answers(store):
        kv = KVTier(store)
        kv_t = KVTier(store, key_col="transaction")
        keys = [(t, f"n{k}") for t in TENANTS for k in range(9)]
        abc_files = [
            os.path.join(d, f)
            for d, _x, fs in os.walk(store._resolve("account_balance_change"))
            for f in fs if f.endswith(".parquet")
        ]
        return (
            kv.lookup(
                "account", balance_view.table_fingerprint(store, "account"), keys,
                ["currency", "format", "last_syn_snapshot", "last_syn_event"],
            ),
            [
                kv_t.sorted_page(
                    "transfer", balance_view.table_fingerprint(store, "transfer"), t,
                    ["transaction", "transfer"], ["transaction", "transfer", "amount", "value_date"],
                    limit=100,
                )
                for t in TENANTS
            ],
            kv.delta_sums(
                abc_files,
                [(t, f"acc{k}") for t in TENANTS for k in range(3)], "amount",
            ),
        )

    assert kv_answers(stores["arrow"]) == kv_answers(stores["spark"])
    for mode, store in stores.items():
        assert balance_view.maintain(store) == "recompute", mode
    assert sorted(map(tuple, balance_view.read_if_fresh(stores["arrow"]).collect())) == sorted(
        map(tuple, balance_view.read_if_fresh(stores["spark"]).collect())
    )
    for store in stores.values():
        assert store.compact("transfer", threshold=0) > 0
        assert store.compact("account", threshold=0) > 0
    assert snapshot(stores["arrow"]) == snapshot(stores["spark"])


def test_arrow_upsert_keeps_insert_only_semantics(spark, tmp_path):
    """The fused discovery + marker batch on the Arrow path: an insert-only
    row never overwrites a live row, an unflagged row always does."""
    from pyspark.sql import types as T

    store = warehouse_store(spark, str(tmp_path / "wh"))
    acct = ingest.ACCOUNT_SCHEMA
    store.merge_insert_missing(
        "account", arrow_table([("A", "x", "CZK", "F", 3, 4), ("B", "y", "EUR", "G", 1, 1)], acct),
        ACCOUNT_KEYS,
    )
    flagged = T.StructType(list(acct.fields) + [T.StructField("__ins__", T.BooleanType(), False)])
    prep = store.merge_upsert_prepare(
        "account",
        arrow_table([
            ("A", "x", "CZK", "F", 0, 0, True),   # stale discovery: loses
            ("A", "new", "CZK", "F", 0, 0, True),  # genuine discovery: inserts
            ("B", "y", "EUR", "G", 2, 5, False),  # marker advance: wins
        ], flagged),
        ACCOUNT_KEYS, [("A",), ("B",)], insert_only_col="__ins__", assume_unique=True,
    )
    assert store.last_merge_path["account"] == "arrow"
    store.merge_upsert_commit(prep)
    rows = {(r["tenant"], r["name"]): (r["last_syn_snapshot"], r["last_syn_event"])
            for r in store.read("account").collect()}
    assert rows == {("A", "x"): (3, 4), ("A", "new"): (0, 0), ("B", "y"): (2, 5)}


# --- the ingestion tick on the Arrow path ------------------------------------

Q10 = D(1).scaleb(-10)  # decimal(28,10)


class _Tree:
    """A primary-storage tree in the reference's layout, with the ground
    truth of every warehouse row its ingest must produce."""

    def __init__(self, root: str):
        self.root = root
        self.versions: dict[tuple[str, str], int] = {}  # last event version
        self.transfers: list[tuple] = []  # transfer table rows
        self.n = 0

    def _write(self, rel: str, content: str) -> str:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(content)
        return path

    def account(self, tenant: str, name: str) -> None:
        self._write(f"t_{tenant}/account/{name}/snapshot/0000000000", "CZK FORMAT_F\n")
        self.versions[(tenant, name)] = 0

    def transfer(
        self, tenant: str, credit: str, debit: str, amount: str,
        ts: str | None = None, value_date: datetime.datetime | None = None,
    ) -> str:
        """A committed one-transfer transaction plus its two events; returns
        the transaction file's path. ``ts`` overrides the written timestamp,
        ``value_date`` is then the instant it denotes."""
        self.n += 1
        txn = f"TRN{self.n:04d}"
        if ts is None:
            value_date = datetime.datetime(2020, 1 + self.n % 12, 1 + self.n % 28, 1, 2, 3)
            ts = f"{value_date:%Y-%m-%dT%H:%M:%S}Z"
        path = self._write(
            f"t_{tenant}/transaction/{txn}",
            f"committed\nTRX{self.n} {tenant} {credit} {tenant} {debit} {ts} {amount} CZK\n",
        )
        for acc in (credit, debit):
            self.versions[(tenant, acc)] += 1
            self._write(
                f"t_{tenant}/account/{acc}/events/0000000000/1_{amount}_{txn}",
                f"{self.versions[(tenant, acc)]}\n",
            )
        self.transfers.append((
            tenant, txn, f"TRX{self.n}", 1, tenant, credit, tenant, debit,
            D(amount).quantize(Q10), "CZK", value_date,
        ))
        return path

    def changes(self) -> list[tuple]:
        """The signed balance-change rows: a credit (+) and a debit (−) row
        per committed transfer, with the transfer's key as provenance."""
        out = []
        for tenant, txn, tr, _st, ct, cn, dt, dn, amount, _cur, vd in self.transfers:
            out.append((ct, cn, vd, amount, tenant, txn, tr, "c"))
            out.append((dt, dn, vd, -amount, tenant, txn, tr, "d"))
        return out

    def balances(self) -> dict[tuple[str, str], D]:
        sums: dict = {}
        for tenant, name, _vd, amount, *_ in self.changes():
            sums[(tenant, name)] = sums.get((tenant, name), D(0)) + amount
        return {k: v for k, v in sums.items() if v != 0}

    def expected(self) -> dict:
        """The four ingested tables, in :func:`_tables` form: every account
        with its parsed meta (``CZK FORMAT_F`` → CZK, FORMAT) and its
        markers on its last event."""
        return {
            "tenant": sorted({(t,) for t, _a in self.versions}, key=str),
            "account": sorted(
                ((t, a, "CZK", "FORMAT", 0, v) for (t, a), v in self.versions.items()), key=str
            ),
            "transfer": sorted(self.transfers, key=str),
            "account_balance_change": sorted(self.changes(), key=str),
        }

    def backdate(self) -> None:
        """Age every mtime past the listing cache's guard window."""
        old = time.time() - 10
        for dirpath, _dirs, files in os.walk(self.root):
            os.utime(dirpath, (old, old))
            for f in files:
                os.utime(os.path.join(dirpath, f), (old, old))


def _seed(tmp_path, spark):
    tree = _Tree(str(tmp_path / "data"))
    for t in ("T1", "T2"):
        for a in ("A", "B", "C"):
            tree.account(t, a)
    for i in range(6):
        tree.transfer("T1" if i % 2 else "T2", "A", "B" if i % 3 else "C", f"{i + 1}.25")
    tree.backdate()
    store = warehouse_store(spark, str(tmp_path / "wh"))
    pipe = IngestionPipeline(spark, tree.root, store)
    pipe.run_once()  # first tick: every account dir examined
    pipe.run_once()  # examines and settles the accounts it read
    balance_view.maintain(store)  # converged rollup, as after an idle tick
    return tree, store, pipe


def _burst(tree: _Tree) -> None:
    """A steady delta: a few transfers between known accounts plus one new
    account (the fused discovery + marker batch)."""
    tree.account("T1", "NEW")
    tree.transfer("T1", "NEW", "A", "10")
    tree.transfer("T1", "B", "C", "0.5")
    tree.transfer("T2", "C", "A", "7.75")
    tree.backdate()


def _tables(store) -> dict:
    return {
        name: sorted(map(tuple, store.read(name).collect()), key=str)
        for name in ("tenant", "account", "transfer", "account_balance_change")
    }


def _assert_exact(store, tree: _Tree) -> None:
    """The warehouse holds exactly the tree's ground truth: no transfer
    lost or duplicated, every signed change and marker exact."""
    got, want = _tables(store), tree.expected()
    for name in want:
        assert got[name] == want[name], name


def _tick_jobs(spark, pipe) -> tuple[object, set]:
    """Run one tick inside a job group; returns (metrics, ids of every job
    submitted meanwhile — grouped, or ungrouped from the merge threads)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "arrow-commit-tick"

    def ids():
        return set(tracker.getJobIdsForGroup(group)) | set(tracker.getJobIdsForGroup(None))

    before = ids()
    sc.setJobGroup(group, "one ingestion tick")
    try:
        m = pipe.run_once()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return m, ids() - before


def test_small_delta_tick_submits_no_spark_job(spark, tmp_path):
    """A steady delta tick of a few transactions commits transfer, balance
    change and account through the Arrow path with ZERO Spark jobs, records
    the path and seconds per table in TickMetrics.extra["merge"], and
    leaves every table equal to the tree's ground truth."""
    tree, store, pipe = _seed(tmp_path, spark)
    _burst(tree)
    m, jobs = _tick_jobs(spark, pipe)
    assert m.transfers_discovered == 3
    assert jobs == set(), f"Spark jobs on the small delta tick: {sorted(jobs)}"
    assert set(m.extra["merge"]) == {"transfer", "account_balance_change", "account"}
    for table, rec in m.extra["merge"].items():
        assert set(rec) == {"path", "s"}, table
        assert rec["path"] == "arrow", table
        assert isinstance(rec["s"], float) and rec["s"] >= 0, table
    _assert_exact(store, tree)


def test_first_tick_reports_arrow_merges(spark, tmp_path):
    """The first tick on an empty warehouse runs the same body as every
    later one: each table's first version commits through the Arrow path,
    and the tables equal the tree's ground truth."""
    tree = _Tree(str(tmp_path / "data"))
    tree.account("T1", "A")
    tree.account("T1", "B")
    tree.transfer("T1", "A", "B", "1")
    store = warehouse_store(spark, str(tmp_path / "wh"))
    m = IngestionPipeline(spark, tree.root, store).run_once()
    assert m.accounts_discovered == 2 and m.transfers_discovered == 1
    assert {t: r["path"] for t, r in m.extra["merge"].items()} == {
        "tenant": "arrow",
        "account": "arrow",
        "transfer": "arrow",
        "account_balance_change": "arrow",
    }
    _assert_exact(store, tree)


def test_wide_first_tick_ingests_exactly(spark, tmp_path):
    """A wide first tick — more than 256 meta+event files and more than 64
    transactions — reads every file on the driver in the one tick body,
    and the tables equal the tree's ground truth."""
    tree = _Tree(str(tmp_path / "data"))
    tenants, per_tenant, n_transfers = ("W1", "W2", "W3"), 50, 80
    for t in tenants:
        for a in range(per_tenant):
            tree.account(t, f"A{a:02d}")
    for i in range(n_transfers):
        t = tenants[i % len(tenants)]
        credit, debit = i % per_tenant, (i * 7 + 1) % per_tenant  # never equal
        tree.transfer(t, f"A{credit:02d}", f"A{debit:02d}", f"{i + 1}.5")
    tree.backdate()
    store = warehouse_store(spark, str(tmp_path / "wh"))
    m = IngestionPipeline(spark, tree.root, store).run_once()
    assert m.extra["files_read"] == {
        "meta": len(tenants) * per_tenant,  # 150
        "events": 2 * n_transfers,  # 160: 310 meta+event files > 256
        "transactions": n_transfers,  # 80 > 64
    }
    assert m.accounts_discovered == len(tenants) * per_tenant
    assert m.transfers_discovered == n_transfers
    _assert_exact(store, tree)


def test_batch_over_cutoff_takes_the_spark_path(spark, tmp_path, monkeypatch):
    """Above ARROW_COMMIT_MAX_ROWS the same tick hands its batches to the
    Spark plans — jobs run, the path says so, the tables are the same."""
    tree, store, pipe = _seed(tmp_path, spark)
    _burst(tree)
    monkeypatch.setattr(tables, "ARROW_COMMIT_MAX_ROWS", 0)
    m, jobs = _tick_jobs(spark, pipe)
    assert m.transfers_discovered == 3
    assert jobs, "the over-cut-off tick must run Spark jobs"
    assert {t: r["path"] for t, r in m.extra["merge"].items()} == {
        "transfer": "spark", "account_balance_change": "spark", "account": "spark",
    }
    monkeypatch.undo()
    _assert_exact(store, tree)


def test_account_batch_over_prune_limit_takes_the_plain_upsert(spark, tmp_path, monkeypatch):
    """More tenants in the account batch than one pruned upsert takes:
    prepare declines, and merge_upsert commits the same Arrow batch on its
    Spark plan — the tables are the same."""
    tree, store, pipe = _seed(tmp_path, spark)
    _burst(tree)
    monkeypatch.setattr(tables, "MAX_PRUNE_PARTITIONS", 0)
    m = pipe.run_once()
    assert m.transfers_discovered == 3
    assert m.extra["merge"]["account"]["path"] == "spark"
    monkeypatch.undo()
    _assert_exact(store, tree)


def _crash_replay(spark, tmp_path, monkeypatch, inject, partial) -> None:
    tree, store, pipe = _seed(tmp_path, spark)
    _burst(tree)
    inject(store)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run_once()
    partial(store)
    monkeypatch.undo()
    # no staging dir survives the failed tick
    assert not [e for e in os.listdir(store.root) if ".stage-" in e]
    m = pipe.run_once()  # replay
    assert m.extra["merge"]["transfer"]["path"] == "arrow"
    balance_view.maintain(store)  # the idle tick's convergence
    _assert_exact(store, tree)
    rollup = {
        (r["tenant"], r["name"]): r["sum_amount"]
        for r in balance_view.read_if_fresh(store).collect()
    }
    assert {k: v for k, v in rollup.items() if v != 0} == tree.balances()


def _transfers(store) -> set:
    return {(r["tenant"], r["transaction"]) for r in store.read("transfer").collect()}


def test_crash_after_arrow_staging_write_replays_exactly(spark, tmp_path, monkeypatch):
    """Crash after the transfer batch is written to staging, before
    _adopt_files: nothing of it is visible, and the replay lands it once."""
    before: dict = {}

    def inject(store):
        before["t"] = _transfers(store)
        orig = store._adopt_files

        def adopt(staging, target):
            if os.path.basename(staging).startswith("transfer.stage-"):
                assert any(f.endswith(".parquet") for _d, _x, fs in os.walk(staging) for f in fs)
                raise RuntimeError("injected crash")
            return orig(staging, target)

        monkeypatch.setattr(store, "_adopt_files", adopt)

    def partial(store):
        assert _transfers(store) == before["t"]

    _crash_replay(spark, tmp_path, monkeypatch, inject, partial)


def test_crash_between_transfer_and_balance_change_adopt(spark, tmp_path, monkeypatch):
    """Crash after the transfer adopt, before the balance-change adopt: the
    transfers are visible, their signed changes are not, the markers have
    not moved — the replay adds the changes once and duplicates nothing."""
    before: dict = {}

    def inject(store):
        before["t"] = _transfers(store)
        before["abc"] = store.read("account_balance_change").count()
        orig = store._adopt_files

        def adopt(staging, target):
            if os.path.basename(staging).startswith("account_balance_change.stage-"):
                raise RuntimeError("injected crash")
            return orig(staging, target)

        monkeypatch.setattr(store, "_adopt_files", adopt)

    def partial(store):
        assert len(_transfers(store)) == len(before["t"]) + 3
        assert store.read("account_balance_change").count() == before["abc"]

    _crash_replay(spark, tmp_path, monkeypatch, inject, partial)


def test_crash_before_account_commit_replays_exactly(spark, tmp_path, monkeypatch):
    """Crash after both fact adopts, before merge_upsert_commit publishes
    the marker advance: the staged account snapshot is discarded, and the
    replay re-reads the events and drops every duplicate."""
    before: dict = {}

    def inject(store):
        before["acct"] = sorted(map(tuple, store.read("account").collect()))

        def commit(prep):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(store, "merge_upsert_commit", commit)

    def partial(store):
        assert sorted(map(tuple, store.read("account").collect())) == before["acct"]
        # the aborted prepare leaves only the current and previous versions
        tdir = os.path.join(store.root, "account")
        assert len([e for e in os.listdir(tdir) if e.startswith("v-")]) <= 2

    _crash_replay(spark, tmp_path, monkeypatch, inject, partial)


def test_kv_marks_refusal_fails_the_tick_and_the_next_tick_ingests(spark, tmp_path, monkeypatch):
    """The KV tier refuses the account-marks lookup. One refusal is retried
    inside the tick; a second fails the tick before any write, leaving every
    examined account pending — so the next tick ingests the tree exactly."""
    tree, store, pipe = _seed(tmp_path, spark)
    _burst(tree)
    refusals = {"left": 2}
    lookup = KVTier.lookup

    def refusing(self, table, *a, **kw):
        if table == "account" and refusals["left"]:
            refusals["left"] -= 1
            return None
        return lookup(self, table, *a, **kw)

    monkeypatch.setattr(KVTier, "lookup", refusing)
    before = _tables(store)
    with pytest.raises(RuntimeError, match="refused"):
        pipe.run_once()
    assert _tables(store) == before
    assert pipe.run_once().transfers_discovered == 3
    _assert_exact(store, tree)

    tree.transfer("T2", "A", "B", "2")
    tree.backdate()
    refusals["left"] = 1
    assert pipe.run_once().transfers_discovered == 1
    assert refusals["left"] == 0
    _assert_exact(store, tree)


def test_spark_only_timestamp_shape_ingests_through_the_spark_parse(spark, tmp_path):
    """A transaction whose timestamp only Spark's to_timestamp parses: the
    driver twin declines it, the tick reads it with the Spark text parse on
    the same body, stores exactly the Spark row and advances the markers."""
    from data_warehouse_spark.sources import primary

    tree, store, pipe = _seed(tmp_path, spark)
    value_date = datetime.datetime(2020, 1, 2, 3, 4, 5)
    path = tree.transfer("T1", "C", "A", "4.5", ts="2020-1-2T03:04:05Z", value_date=value_date)
    tree.backdate()
    with pytest.raises(primary.TwinUnsupported):
        primary.read_transaction_rows([path])
    (tenant, txn, status, transfer, ct, cn, dt, dn, vd, amount, cur), = [
        tuple(r) for r in primary.read_transaction_paths(spark, [path]).collect()
    ]
    assert vd == value_date
    m = pipe.run_once()
    assert m.transfers_discovered == 1
    assert m.extra["merge"]["transfer"]["path"] == "arrow"
    stored = [tuple(r) for r in store.read("transfer").filter(f"transaction = '{txn}'").collect()]
    assert stored == [(tenant, txn, transfer, status, ct, cn, dt, dn, amount, cur, vd)]
    marks = {
        r["name"]: (r["last_syn_snapshot"], r["last_syn_event"])
        for r in store.read("account").filter("tenant = 'T1'").collect()
    }
    assert marks["C"] == (0, tree.versions[("T1", "C")])
    assert marks["A"] == (0, tree.versions[("T1", "A")])
    _assert_exact(store, tree)
