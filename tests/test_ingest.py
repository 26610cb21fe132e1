"""Golden ingestion tests: ports of the reference's bbtest scenarios
(graphql_api.feature — fixtures reproduced from FIXTURES.md) plus the
idempotence/incrementality invariants the reference guarantees via
ON CONFLICT upserts.
"""

from __future__ import annotations

import decimal
import os

import pytest

from data_warehouse_spark.operators import queries as wh
from data_warehouse_spark.streaming.ingest import (
    IngestionPipeline,
    InvariantViolation,
    warehouse_store,
)

# streaming/serving e2e tier: full-pipeline ticks / HTTP / stateful
# streams (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow


def write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


@pytest.fixture()
def pipeline(spark, tmp_path):
    primary_root = str(tmp_path / "data")
    os.makedirs(primary_root, exist_ok=True)
    store = warehouse_store(spark, str(tmp_path / "warehouse"))
    return IngestionPipeline(spark, primary_root, store), primary_root, store


# --- scenario 1: tenant discovery (graphql_api.feature:3-30) ----------------
def test_tenant_discovery(pipeline):
    pipe, root, store = pipeline
    os.makedirs(os.path.join(root, "t_TENANT"))
    os.makedirs(os.path.join(root, "not_a_tenant"))
    m = pipe.run_once()
    assert m.tenants_discovered == 1
    rows = wh.tenants(store.read("tenant"), limit=1000, offset=0).collect()
    assert [r["name"] for r in rows] == ["TENANT"]


# --- scenario 2: account discovery, zero balance (feature:32-67) -------------
def test_account_discovery_zero_balance(pipeline):
    pipe, root, store = pipeline
    write(
        os.path.join(root, "t_TENANT_ACC", "account", "ACCOUNT", "snapshot", "0000000000"),
        "CZK FORMAT_T\n",
    )
    m = pipe.run_once()
    assert m.accounts_discovered == 1
    accs = wh.accounts(store.read("account"), tenant="TENANT_ACC", limit=10).collect()
    assert len(accs) == 1
    acc = accs[0]
    # parse rule: currency = chars [0,3), format drops the trailing 2 chars
    assert acc["currency"] == "CZK"
    assert acc["format"] == "FORMAT"
    bal = wh.account_balance(
        store.read("account_balance_change"), "TENANT_ACC", "ACCOUNT"
    ).collect()[0]["balance"]
    assert bal == 0


# --- scenario 3: transfer round-trip, signed balances (feature:69-142) --------
def _write_transfer_fixture(root: str) -> None:
    t = "t_TENANT_TRN"
    write(os.path.join(root, t, "account", "CREDIT", "snapshot", "0000000000"), "CZK FORMAT_F\n")
    write(os.path.join(root, t, "account", "DEBIT", "snapshot", "0000000000"), "CZK FORMAT_F\n")
    write(
        os.path.join(root, t, "transaction", "TRN"),
        "committed\nTRX TENANT_TRN CREDIT TENANT_TRN DEBIT 2020-01-01T00:00:00Z 1 CZK\n",
    )
    write(os.path.join(root, t, "account", "CREDIT", "events", "0000000000", "1_1_TRN"), "1\n")
    write(os.path.join(root, t, "account", "DEBIT", "events", "0000000000", "1_-1_TRN"), "1\n")


def test_transfer_roundtrip_signed_balances(pipeline):
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    m = pipe.run_once()
    assert m.transfers_discovered == 1  # PK-deduped across both discovering events

    transfers = wh.transfers(store.read("transfer"), tenant="TENANT_TRN").collect()
    assert len(transfers) == 1
    tr = transfers[0]
    assert (tr["transaction"], tr["transfer"], tr["status"]) == ("TRN", "TRX", 1)
    assert tr["amount"] == decimal.Decimal("1")
    assert tr["currency"] == "CZK"

    abc = store.read("account_balance_change")
    credit = wh.account_balance(abc, "TENANT_TRN", "CREDIT").collect()[0]["balance"]
    debit = wh.account_balance(abc, "TENANT_TRN", "DEBIT").collect()[0]["balance"]
    assert credit == decimal.Decimal("1")
    assert debit == decimal.Decimal("-1")


# --- invariants ---------------------------------------------------------------
def test_reingest_idempotent(pipeline):
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    pipe.run_once()
    before = {
        name: store.read(name).count()
        for name in ("tenant", "account", "transfer", "account_balance_change")
    }
    m2 = pipe.run_once()  # replay: no new discoveries, no duplicate rows
    assert m2.tenants_discovered == 0
    assert m2.accounts_discovered == 0
    assert m2.transfers_discovered == 0
    after = {
        name: store.read(name).count()
        for name in ("tenant", "account", "transfer", "account_balance_change")
    }
    assert before == after


def test_incremental_new_transaction(pipeline):
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    pipe.run_once()
    # a later event on the same snapshot + a second transaction
    t = "t_TENANT_TRN"
    write(
        os.path.join(root, t, "transaction", "TRN2"),
        "committed\nTRX2 TENANT_TRN DEBIT TENANT_TRN CREDIT 2020-02-01T00:00:00Z 3.50 CZK\n",
    )
    write(os.path.join(root, t, "account", "CREDIT", "events", "0000000000", "1_-3.5_TRN2"), "2\n")
    write(os.path.join(root, t, "account", "DEBIT", "events", "0000000000", "1_3.5_TRN2"), "2\n")
    m = pipe.run_once()
    assert m.transfers_discovered == 1
    abc = store.read("account_balance_change")
    credit = wh.account_balance(abc, "TENANT_TRN", "CREDIT").collect()[0]["balance"]
    debit = wh.account_balance(abc, "TENANT_TRN", "DEBIT").collect()[0]["balance"]
    assert credit == decimal.Decimal("-2.5")  # +1 − 3.5
    assert debit == decimal.Decimal("2.5")  # −1 + 3.5
    # watermarks advanced
    acc = store.read("account").filter("name = 'CREDIT'").collect()[0]
    assert acc["last_syn_event"] == 2


def _walk_files(root: str) -> set[str]:
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            out.add(os.path.join(dirpath, f))
    return out


def test_idle_tick_reads_zero_files_and_writes_nothing(pipeline):
    """The O(new files) contract: a tick with no primary-storage changes
    performs ZERO content reads and ZERO table writes (BASELINE.md target;
    the reference's count-skip — PrimaryDataExplorationService.scala:150-156)."""
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    pipe.run_once()
    disk_before = _walk_files(store.root)
    m = pipe.run_once()
    assert m.extra["files_read"] == {"meta": 0, "events": 0, "transactions": 0}
    assert _walk_files(store.root) == disk_before  # no rewrite, no append


def test_incremental_tick_reads_o_of_new_files(pipeline):
    """One new transaction → reads only the touched event dirs (bounded by
    events-per-snapshot) + exactly the one new transaction file; meta is
    never re-read for known accounts."""
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    pipe.run_once()
    t = "t_TENANT_TRN"
    write(
        os.path.join(root, t, "transaction", "TRN2"),
        "committed\nTRX2 TENANT_TRN DEBIT TENANT_TRN CREDIT 2020-02-01T00:00:00Z 3.50 CZK\n",
    )
    write(os.path.join(root, t, "account", "CREDIT", "events", "0000000000", "1_-3.5_TRN2"), "2\n")
    write(os.path.join(root, t, "account", "DEBIT", "events", "0000000000", "1_3.5_TRN2"), "2\n")
    m = pipe.run_once()
    fr = m.extra["files_read"]
    assert fr["meta"] == 0
    # both touched boundary dirs re-read fully (2 files each — the
    # reference's behavior too); nothing else
    assert fr["events"] == 4
    # the boundary event (version == watermark) replays by design, so its
    # transaction is re-fetched alongside the new one — still O(new), never
    # O(corpus): 2, not the full transaction tree
    assert fr["transactions"] == 2
    assert m.transfers_discovered == 1


def test_snapshot_rollover_resets_event_watermark(pipeline):
    """Event versions restart per snapshot: after a snapshot advance, the new
    snapshot's events with version < the old event watermark must still be
    ingested, and last_syn_event must DECREASE to the new snapshot's position
    (reference PrimaryDataExplorationService.scala:155-186)."""
    pipe, root, store = pipeline
    t = "t_TEN_ROLL"
    write(os.path.join(root, t, "account", "R", "snapshot", "0000000000"), "CZK FORMAT_R\n")
    write(
        os.path.join(root, t, "transaction", "TR_A"),
        "committed\nTA TEN_ROLL R TEN_ROLL R 2020-01-01T00:00:00Z 1 CZK\n",
    )
    write(
        os.path.join(root, t, "transaction", "TR_B"),
        "committed\nTB TEN_ROLL R TEN_ROLL R 2020-01-02T00:00:00Z 2 CZK\n",
    )
    write(os.path.join(root, t, "account", "R", "events", "0000000000", "1_1_TR_A"), "1\n")
    write(os.path.join(root, t, "account", "R", "events", "0000000000", "1_2_TR_B"), "2\n")
    pipe.run_once()
    acc = store.read("account").filter("name = 'R'").collect()[0]
    assert (acc["last_syn_snapshot"], acc["last_syn_event"]) == (0, 2)

    # snapshot rolls over; its first event has version 1 < old watermark 2
    write(os.path.join(root, t, "account", "R", "snapshot", "0000000001"), "CZK FORMAT_R\n")
    write(
        os.path.join(root, t, "transaction", "TR_C"),
        "committed\nTC TEN_ROLL R TEN_ROLL R 2020-01-03T00:00:00Z 4 CZK\n",
    )
    write(os.path.join(root, t, "account", "R", "events", "0000000001", "1_4_TR_C"), "1\n")
    m = pipe.run_once()
    assert m.transfers_discovered == 1  # the rollover event is NOT skipped
    acc = store.read("account").filter("name = 'R'").collect()[0]
    # watermark reassigned to the new snapshot's position — event wm decreased
    assert (acc["last_syn_snapshot"], acc["last_syn_event"]) == (1, 1)
    assert store.read("transfer").filter("tenant = 'TEN_ROLL'").count() == 3


def test_queued_event_does_not_expand(pipeline):
    pipe, root, store = pipeline
    t = "t_TEN_Q"
    write(os.path.join(root, t, "account", "A", "snapshot", "0000000000"), "EUR FORMAT_X\n")
    write(os.path.join(root, t, "transaction", "TQ"), "committed\nTX TEN_Q A TEN_Q A 2020-01-01T00:00:00Z 5 EUR\n")
    # status 0 (queued) event must NOT trigger the transaction read (D6)
    write(os.path.join(root, t, "account", "A", "events", "0000000000", "0_5_TQ"), "1\n")
    m = pipe.run_once()
    assert m.transfers_discovered == 0


def _assert_invariant_violation(pipeline, monkeypatch, tick, bad):
    """Reference D8: an event whose transaction file says another status,
    or names no transaction file at all, fails the tick with
    InvariantViolation before any transfer merge or marker advance.
    ``tick`` is the tick that meets the bad event: the ``first`` one, or a
    ``delta`` tick after a valid transfer was ingested. Both run the one
    tick body, ``_expand_and_merge_local``."""
    pipe, root, store = pipeline
    t = "t_TEN_BAD"
    acct = os.path.join(root, t, "account", "B")
    write(os.path.join(acct, "snapshot", "0000000000"), "EUR FORMAT_X\n")
    expected_marks = []  # the first tick's discovery rides the failed merge
    if tick == "delta":
        write(os.path.join(root, t, "transaction", "TA"), "committed\nTX TEN_BAD B TEN_BAD B 2020-01-01T00:00:00Z 5 EUR\n")
        write(os.path.join(acct, "events", "0000000000", "1_5_TA"), "1\n")
        _backdate(root)
        assert pipe.run_once().transfers_discovered == 1
        expected_marks = [(0, 1)]
    calls = []
    orig = IngestionPipeline._expand_and_merge_local

    def spy(self, *a, **kw):
        calls.append(tick)
        return orig(self, *a, **kw)

    monkeypatch.setattr(IngestionPipeline, "_expand_and_merge_local", spy)
    transfers_before = store.read("transfer").count()
    if bad == "status_mismatch":
        # event says committed(1), transaction file says rollbacked(2)
        write(os.path.join(root, t, "transaction", "TB"), "rollbacked\nTX2 TEN_BAD B TEN_BAD B 2020-01-02T00:00:00Z 5 EUR\n")
    write(os.path.join(acct, "events", "0000000000", "1_5_TB"), "2\n")
    with pytest.raises(InvariantViolation):
        pipe.run_once()
    assert calls == [tick]
    marks = [
        (r["last_syn_snapshot"], r["last_syn_event"])
        for r in store.read("account").filter("name = 'B'").collect()
    ]
    assert marks == expected_marks
    assert store.read("transfer").count() == transfers_before


def test_status_mismatch_invariant(pipeline, monkeypatch):
    _assert_invariant_violation(pipeline, monkeypatch, "first", "status_mismatch")


@pytest.mark.parametrize(
    "tick,bad",
    [
        ("first", "missing_transaction"),
        ("delta", "status_mismatch"),
        ("delta", "missing_transaction"),
    ],
)
def test_invariant_violation_on_every_tick_path(pipeline, monkeypatch, tick, bad):
    _assert_invariant_violation(pipeline, monkeypatch, tick, bad)


def test_transaction_id_with_underscores(pipeline):
    """Event filename split('_', 3): the transaction id keeps underscores."""
    pipe, root, store = pipeline
    t = "t_TEN_U"
    write(os.path.join(root, t, "account", "U", "snapshot", "0000000000"), "USD FORMAT_Z\n")
    write(
        os.path.join(root, t, "transaction", "TX_WITH_UNDERSCORES"),
        "committed\nT1 TEN_U U TEN_U U 2021-06-01T12:30:00Z 2.25 USD\n",
    )
    write(
        os.path.join(root, t, "account", "U", "events", "0000000000", "1_x_TX_WITH_UNDERSCORES"),
        "1\n",
    )
    m = pipe.run_once()
    assert m.transfers_discovered == 1
    tr = store.read("transfer").collect()[0]
    assert tr["transaction"] == "TX_WITH_UNDERSCORES"


def test_malformed_transfer_line_fails_the_read(pipeline):
    """A transfer line with an unparseable amount (or too few fields) must
    FAIL the read like the reference's exact BigDecimal parse — a silent
    NULL amount would vanish from SUM-based balances."""
    import pytest

    pipe, root, store = pipeline
    t = "t_TEN_BADLINE"
    write(os.path.join(root, t, "account", "M", "snapshot", "0000000000"), "USD FORMAT_Z\n")
    write(
        os.path.join(root, t, "transaction", "TBAD"),
        "committed\nT1 TEN_BADLINE M TEN_BADLINE M 2021-06-01T12:30:00Z abc USD\n",
    )
    write(os.path.join(root, t, "account", "M", "events", "0000000000", "1_1_TBAD"), "1\n")
    with pytest.raises(Exception, match="malformed transfer line"):
        pipe.run_once()

    t2 = "t_TEN_SHORTLINE"
    write(os.path.join(root, t2, "account", "S", "snapshot", "0000000000"), "USD FORMAT_Z\n")
    write(os.path.join(root, t2, "transaction", "TSHORT"), "committed\nT1 ONLY THREE\n")
    write(os.path.join(root, t2, "account", "S", "events", "0000000000", "1_1_TSHORT"), "1\n")
    import shutil

    shutil.rmtree(os.path.join(root, t))  # isolate the second fixture
    with pytest.raises(Exception, match="malformed transfer line"):
        pipe.run_once()


def test_event_filename_with_empty_hint_segment(pipeline):
    """split('_', 3) with an EMPTY middle segment: '1__TXN' must still
    yield transaction='TXN' (the reference's split produces ['1','','TXN'];
    a regex requiring a non-empty hint would lose the linkage)."""
    pipe, root, store = pipeline
    t = "t_TEN_EH"
    write(os.path.join(root, t, "account", "E", "snapshot", "0000000000"), "USD FORMAT_Z\n")
    write(
        os.path.join(root, t, "transaction", "TXN"),
        "committed\nT1 TEN_EH E TEN_EH E 2021-06-01T12:30:00Z 2.25 USD\n",
    )
    write(os.path.join(root, t, "account", "E", "events", "0000000000", "1__TXN"), "1\n")
    m = pipe.run_once()
    assert m.transfers_discovered == 1
    assert store.read("transfer").collect()[0]["transaction"] == "TXN"


# --- 256-byte line framing (reference Framing.delimiter(_, 256, true)) --------
def test_framing_oversize_transfer_line_fails(pipeline):
    """A transfer line longer than 256 bytes must fail the read, exactly as
    the reference's FramingException fails the stream."""
    pipe, root, store = pipeline
    t = "t_TEN_FRAME"
    write(os.path.join(root, t, "account", "F", "snapshot", "0000000000"), "EUR FORMAT_X\n")
    long_name = "X" * 300
    write(
        os.path.join(root, t, "transaction", "TF"),
        f"committed\nT1 TEN_FRAME F TEN_FRAME {long_name} 2020-01-01T00:00:00Z 1 EUR\n",
    )
    write(os.path.join(root, t, "account", "F", "events", "0000000000", "1_1_TF"), "1\n")
    with pytest.raises(Exception, match="FramingException"):
        pipe.run_once()


def test_framing_oversize_event_version_line_fails(pipeline):
    pipe, root, store = pipeline
    t = "t_TEN_FRAME2"
    write(os.path.join(root, t, "account", "G", "snapshot", "0000000000"), "EUR FORMAT_X\n")
    write(os.path.join(root, t, "transaction", "TG"), "committed\nT1 TEN_FRAME2 G TEN_FRAME2 G 2020-01-01T00:00:00Z 1 EUR\n")
    write(os.path.join(root, t, "account", "G", "events", "0000000000", "1_1_TG"), "9" * 300 + "\n")
    with pytest.raises(Exception, match="FramingException"):
        pipe.run_once()


def test_framing_oversize_unparsed_line_fails(pipeline):
    """Akka's Framing fails on ANY oversized line in the stream — including
    lines the parser never consumes (meta line 2): the frame bound is a
    property of the read, not of the fields extracted."""
    pipe, root, store = pipeline
    t = "t_TEN_FRAME3"
    write(
        os.path.join(root, t, "account", "H", "snapshot", "0000000000"),
        "EUR FORMAT_X\n" + "Z" * 300 + "\n",
    )
    write(os.path.join(root, t, "transaction", "TH"), "committed\nT1 TEN_FRAME3 H TEN_FRAME3 H 2020-01-01T00:00:00Z 1 EUR\n")
    write(os.path.join(root, t, "account", "H", "events", "0000000000", "1_1_TH"), "1\n")
    with pytest.raises(Exception, match="FramingException"):
        pipe.run_once()


def test_missing_trailing_newline_parses(pipeline):
    """allowTruncation = true parity: a final line without a delimiter is
    still a frame."""
    pipe, root, store = pipeline
    t = "t_TEN_NONL"
    write(os.path.join(root, t, "account", "N", "snapshot", "0000000000"), "EUR FORMAT_X")
    write(
        os.path.join(root, t, "transaction", "TN"),
        "committed\nT1 TEN_NONL N TEN_NONL N 2020-01-01T00:00:00Z 2 EUR",  # no \n
    )
    write(os.path.join(root, t, "account", "N", "events", "0000000000", "1_1_TN"), "1")
    m = pipe.run_once()
    assert m.transfers_discovered == 1


# --- listing cache: idle ticks O(changed dirs) -------------------------------
def _backdate(root: str) -> None:
    """Age every mtime past the ListingCache guard window (tests write
    'now'; production trees are quiet between ticks)."""
    import time

    old = time.time() - 10
    for dirpath, _dirs, filenames in os.walk(root):
        os.utime(dirpath, (old, old))
        for f in filenames:
            os.utime(os.path.join(dirpath, f), (old, old))


def test_listing_cache_idle_fast_path_and_reawaken(pipeline):
    """Tick 1 ingests (every account dir examined); tick 2 examines the
    accounts tick 1 read and settles them; tick 3 is the idle FAST PATH —
    no stage beyond the stage clock's bookends (the O(changed dirs)
    contract). New files after dormancy must still be detected."""
    pipe, root, store = pipeline
    _write_transfer_fixture(root)
    _backdate(root)
    pipe.run_once()
    m2 = pipe.run_once()  # examines pending accounts, reads nothing
    assert m2.extra["files_read"] == {"meta": 0, "events": 0, "transactions": 0}
    m3 = pipe.run_once()  # fast path: sweep found nothing
    assert m3.extra["files_read"] == {"meta": 0, "events": 0, "transactions": 0}
    assert set(m3.extra["stage_sec"]) == {
        "tenants",
        "listing",
        "rollup_converge_check",
    }, m3.extra["stage_sec"]

    # reawaken: a new transaction lands while the account is dormant
    t = "t_TENANT_TRN"
    write(
        os.path.join(root, t, "transaction", "TRN9"),
        "committed\nTRX9 TENANT_TRN DEBIT TENANT_TRN CREDIT 2020-03-01T00:00:00Z 2.25 CZK\n",
    )
    write(os.path.join(root, t, "account", "CREDIT", "events", "0000000000", "1_-2.25_TRN9"), "2\n")
    write(os.path.join(root, t, "account", "DEBIT", "events", "0000000000", "1_2.25_TRN9"), "2\n")
    m4 = pipe.run_once()
    assert m4.transfers_discovered == 1
    assert store.read("transfer").count() == 2


def test_listing_cache_matches_uncached_pipeline(spark, tmp_path):
    """Cached ticks, with new data landing between them, leave exactly the
    tables the writer's ground truth implies — the same tables a full
    re-walk of the tree must give: the cache is an optimization, never a
    correctness input."""
    from .test_arrow_commit import _assert_exact, _Tree

    tree = _Tree(str(tmp_path / "data"))
    tree.account("TENANT_TRN", "CREDIT")
    tree.account("TENANT_TRN", "DEBIT")
    tree.transfer("TENANT_TRN", "CREDIT", "DEBIT", "1")
    tree.backdate()
    store = warehouse_store(spark, str(tmp_path / "wh"))
    pipe = IngestionPipeline(spark, tree.root, store)
    pipe.run_once()
    pipe.run_once()  # settle / replay
    _assert_exact(store, tree)
    tree.transfer("TENANT_TRN", "DEBIT", "CREDIT", "3.50")
    tree.account("TENANT_TRN", "LATE")
    tree.transfer("TENANT_TRN", "LATE", "CREDIT", "0.25")
    tree.backdate()
    pipe.run_once()
    pipe.run_once()
    _assert_exact(store, tree)


def test_driver_side_file_readers_match_spark_parsers(spark, tmp_path):
    """read_account_meta_rows / read_account_event_rows are the driver/
    executor twins of the Spark text parses (S4/S5) — row-identical on
    tricky shapes: empty hint segment, embedded underscores, non-integer
    fields (cast → NULL), and the 256-byte framing bound raising."""
    import pytest as _pytest

    from data_warehouse_spark.sources import primary

    root = str(tmp_path)
    metas = []
    for tenant, acc, content in [
        ("T1", "A1", "CZK FORMAT_X\n"),
        ("T1", "A_2", "EUR F\n"),
        ("T2", "B", "USD LONGER_FORMAT_NAME\nsecond line\n"),
    ]:
        p = os.path.join(root, f"t_{tenant}", "account", acc, "snapshot", "0000000000")
        write(p, content)
        metas.append(p)
    got = primary.read_account_meta_rows(metas)
    want = [
        (r["tenant"], r["name"], r["currency"], r["format"])
        for r in primary.read_account_meta_paths(spark, metas).collect()
    ]
    assert sorted(got) == sorted(want)

    events = []
    for tenant, acc, ver, fname, content in [
        ("T1", "A1", 0, "1_0.5_TRN", "1\n"),
        ("T1", "A1", 0, "2__TRN_WITH_UNDERSCORES", "2\n"),
        ("T2", "B", 3, "0_-1.25_X", "7\n"),
    ]:
        p = os.path.join(
            root, f"t_{tenant}", "account", acc, "events", f"{ver:010d}", fname
        )
        write(p, content)
        events.append(p)
    got_ev = primary.read_account_event_rows(events)
    want_ev = [
        (
            r["tenant"], r["account"], r["status"], r["transaction"],
            r["snapshot_version"], r["version"],
        )
        for r in primary.read_account_event_paths(spark, events).collect()
    ]
    assert sorted(got_ev, key=str) == sorted(want_ev, key=str)

    # framing: both paths fail a >256-byte line, parsed or not
    big = os.path.join(root, "t_T9", "account", "C", "snapshot", "0000000000")
    write(big, "CZK F\n" + "x" * 300 + "\n")
    with _pytest.raises(Exception, match="FramingException"):
        primary.read_account_meta_rows([big])

    # ANSI cast twin: a malformed version line fails BOTH paths (Spark 4
    # ANSI cast raises CAST_INVALID_INPUT; the driver twin mirrors it)
    bad = os.path.join(root, "t_T9", "account", "C", "events", "0000000003", "1_h_TX")
    write(bad, "nope\n")
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        primary.read_account_event_rows([bad])
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        primary.read_account_event_paths(spark, [bad]).collect()


def test_transaction_twin_matches_spark_parser(spark, tmp_path):
    """read_transaction_rows ≡ parse_transactions row-for-row: status
    mapping, HALF_UP decimal(28,10), ISO timestamps (Z / offset /
    fractional), empty body lines skipped; malformed lines fail BOTH
    paths; exotic-but-Spark-parseable timestamps raise TwinUnsupported
    (the fall-back-to-Spark signal, never a silent divergence)."""
    import pytest as _pytest

    from data_warehouse_spark.sources import primary

    root = str(tmp_path)
    good = os.path.join(root, "t_TW", "transaction", "TRN_A")
    write(
        good,
        "committed\n"
        "TRX1 TW C TW D 2020-01-01T00:00:00Z 1.005 CZK\n"
        "\n"
        "TRX2 TW C TW D 2020-06-01T12:30:45.123456+02:00 -3.1415926535897 EUR\n",
    )
    rolled = os.path.join(root, "t_TW", "transaction", "TRN_B")
    write(rolled, "rollbacked\nTRX3 TW X TW Y 2021-02-03T04:05:06 2e3 USD\n")
    queued = os.path.join(root, "t_TW", "transaction", "TRN_C")
    write(queued, "whatever\nTRX4 TW X TW Y 2021-02-03T04:05:06 0.1 USD extra tokens\n")
    paths = [good, rolled, queued]
    got = primary.read_transaction_rows(paths)
    want = [tuple(r) for r in primary.read_transaction_paths(spark, paths).collect()]
    assert sorted(got, key=str) == sorted(want, key=str)

    bad = os.path.join(root, "t_TW", "transaction", "TRN_BAD")
    write(bad, "committed\nTRX5 TW C TW D 2020-01-01T00:00:00Z notanumber CZK\n")
    with _pytest.raises(Exception, match="malformed transfer line"):
        primary.read_transaction_rows([bad])
    with _pytest.raises(Exception, match="malformed transfer line"):
        primary.read_transaction_paths(spark, [bad]).collect()

    weird = os.path.join(root, "t_TW", "transaction", "TRN_WEIRD")
    write(weird, "committed\nTRX6 TW C TW D 2020-1-1 1 CZK x\n")
    with _pytest.raises(primary.TwinUnsupported):
        primary.read_transaction_rows([weird])
