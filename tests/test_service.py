"""Full-service lifecycle test: the reference's bbtest shape — boot the
service against a primary-storage dir, write fixtures while it runs, poll
the HTTP API with an eventually-retry budget, assert metrics, shut down.
"""

from __future__ import annotations

import json
import os
import socket
import threading
import time
import urllib.request

import pytest

from data_warehouse_spark import service
from data_warehouse_spark.metrics import StatsD
from data_warehouse_spark.operators import balance_view
from data_warehouse_spark.service import Service
from data_warehouse_spark.sources import listing

from .test_arrow_commit import _assert_exact, _Tree
from .test_ingest import write

# ingest/serving e2e tier: full-pipeline ticks / HTTP / store e2e
# (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow

PORT = 18231


def eventually(fn, timeout=20.0, interval=0.5):
    """The reference's bbtest retry loop (20 s budget)."""
    deadline = time.monotonic() + timeout
    last = None
    while time.monotonic() < deadline:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last = e
            time.sleep(interval)
    raise AssertionError(f"not eventually true: {last}")


@pytest.fixture()
def statsd_listener():
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(0.2)
    received: list[str] = []

    def drain():
        try:
            while True:
                data, _ = sock.recvfrom(4096)
                received.append(data.decode())
        except socket.timeout:
            pass
        return received

    yield sock.getsockname()[1], drain
    sock.close()


def test_service_lifecycle(spark, tmp_path, statsd_listener):
    statsd_port, drain = statsd_listener
    root = str(tmp_path / "data")
    os.makedirs(os.path.join(root, "t_BOOT"))

    svc = Service(
        spark=spark,
        primary_root=root,
        warehouse_root=str(tmp_path / "wh"),
        http_port=PORT,
        tick_seconds=1.0,
        statsd=StatsD(endpoint=f"127.0.0.1:{statsd_port}"),
    )
    svc.start_ingestion()
    app = svc.build_app()
    server = threading.Thread(
        target=lambda: app.run(port=PORT, use_reloader=False), daemon=True
    )
    server.start()

    def post(payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{PORT}/graphql",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            return json.loads(r.read())

    try:
        # boot fixture becomes queryable
        def tenants_has_boot():
            body = post({"query": "query { tenants(limit: 100, offset: 0) { name } }"})
            names = {t["name"] for t in body["data"]["tenants"]}
            assert "BOOT" in names
            return names

        eventually(tenants_has_boot)

        # health endpoint runs the self-query through the live stack
        with urllib.request.urlopen(f"http://127.0.0.1:{PORT}/health", timeout=10) as r:
            assert json.loads(r.read()) == {"healthy": True, "graphql": True}

        # a fixture written WHILE the service runs is discovered within the
        # reference's 20 s eventually budget
        write(
            os.path.join(root, "t_LIVE2", "account", "A1", "snapshot", "0000000000"),
            "EUR FORMAT_L\n",
        )

        def account_appears():
            body = post(
                {
                    "query": 'query { accounts(tenant: "LIVE2", limit: 10, offset: 0) '
                    "{ name currency balance } }"
                }
            )
            (acc,) = body["data"]["accounts"]
            assert acc == {"name": "A1", "currency": "EUR", "balance": 0}

        eventually(account_appears)

        # discovery metrics reached statsd (golden: metrics.feature)
        def metrics_arrived():
            lines = drain()
            assert any("discovery.tenant:1|c" in ln for ln in lines), lines
            assert any("discovery.account:1|c" in ln for ln in lines), lines
            assert any(".memory.bytes:" in ln for ln in lines)

        eventually(metrics_arrived, timeout=10)
    finally:
        svc.stop()
    assert not svc._ingest_thread.is_alive()


def test_management_stop_start_restart(spark, tmp_path):
    """The management.feature analogue (reference bbtest: stop unit → app
    not running; start → running; restart → running): Service.stop() halts
    the exploration loop gracefully (in-flight tick completes — D11),
    start_ingestion() boots a fresh loop on the same store, and after a
    restart the pipeline still discovers new fixtures and the health
    endpoint still answers. Port-free: drives the Flask app directly."""
    root = str(tmp_path / "data")
    os.makedirs(root, exist_ok=True)
    write(
        os.path.join(root, "t_MGMT", "account", "A1", "snapshot", "0000000000"),
        "CZK FORMAT_M\n",
    )
    svc = Service(
        spark=spark,
        primary_root=root,
        warehouse_root=str(tmp_path / "wh"),
        http_port=0,
        tick_seconds=0.5,
        statsd=StatsD(endpoint=""),  # disabled
    )
    app = svc.build_app()
    client = app.test_client()

    # start: the unit is running — the boot fixture becomes queryable
    svc.start_ingestion()
    eventually(
        lambda: (
            svc.store.read("account").count() == 1
            or (_ for _ in ()).throw(AssertionError("not ingested"))
        )
    )
    assert svc._ingest_thread.is_alive()
    health = json.loads(client.get("/health").data)
    assert health["healthy"] is True

    # stop: graceful — the loop thread exits (unit not running)
    svc.stop()
    assert not svc._ingest_thread.is_alive()
    # data written while stopped is NOT picked up (nothing is running)
    write(
        os.path.join(root, "t_MGMT", "account", "A2", "snapshot", "0000000000"),
        "EUR FORMAT_M\n",
    )
    time.sleep(1.5)
    assert svc.store.read("account").count() == 1

    # restart: a fresh loop resumes from the same store and catches up
    svc._stop.clear()
    svc.start_ingestion()
    eventually(
        lambda: (
            svc.store.read("account").count() == 2
            or (_ for _ in ()).throw(AssertionError("restart did not ingest"))
        )
    )
    assert svc._ingest_thread.is_alive()
    assert json.loads(client.get("/health").data)["healthy"] is True
    svc.stop()
    assert not svc._ingest_thread.is_alive()


class _TickLog:
    """Wraps a pipeline's ``run_once``: records each tick's start and end
    (monotonic) and how many transfers it committed (None: it failed)."""

    def __init__(self, pipeline):
        self.cond = threading.Condition()
        self.ticks: list[tuple[float, float, int | None]] = []
        self.running = False
        inner = pipeline.run_once

        def run_once():
            with self.cond:
                self.running = True
            start, found = time.monotonic(), None
            try:
                m = inner()
                found = m.transfers_discovered
                return m
            finally:
                with self.cond:
                    self.running = False
                    self.ticks.append((start, time.monotonic(), found))
                    self.cond.notify_all()

        pipeline.run_once = run_once

    def wait_for(self, pred, timeout: float) -> None:
        with self.cond:
            assert self.cond.wait_for(lambda: pred(self.ticks), timeout), self.ticks

    def started_after(self, t: float, timeout: float = 20.0) -> None:
        """Block until a tick that started after ``t`` has ended."""
        self.wait_for(lambda ticks: any(s > t for s, _e, _f in ticks), timeout)

    def quiet(self, seconds: float, timeout: float = 30.0) -> None:
        """Block until no tick has run or ended for ``seconds``."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.cond:
                last = self.ticks[-1][1] if self.ticks else 0.0
                if not self.running and time.monotonic() - last >= seconds:
                    return
            time.sleep(0.05)
        raise AssertionError(f"ticks never went quiet: {self.ticks[-5:]}")


def _event_service(spark, tmp_path, tick_seconds: float):
    tree = _Tree(str(tmp_path / "data"))
    for a in ("A", "B", "C"):
        tree.account("T1", a)
    tree.transfer("T1", "A", "B", "1.50")
    tree.backdate()
    svc = Service(
        spark=spark,
        primary_root=tree.root,
        warehouse_root=str(tmp_path / "wh"),
        http_port=0,
        tick_seconds=tick_seconds,
        statsd=StatsD(endpoint=""),  # disabled
    )
    return tree, svc, _TickLog(svc.pipeline)


def test_landed_transaction_wakes_the_tick(spark, tmp_path):
    """With a 30 s timer, a transaction landed after the first tick is
    committed within a few seconds: only a file event can start that tick.
    stop() then returns at once, while the loop waits on the timer."""
    tree, svc, log = _event_service(spark, tmp_path, tick_seconds=30)
    svc.start_ingestion()
    try:
        log.wait_for(lambda ticks: len(ticks) >= 1, 120)
        log.quiet(0.5)
        landed = time.monotonic()
        tree.transfer("T1", "C", "A", "2.25")
        log.wait_for(lambda ticks: any(f for s, _e, f in ticks if s > landed), 10)
        picked = next(e for s, e, f in log.ticks if s > landed and f)
        assert picked - landed < 5.0, log.ticks
        log.quiet(0.5)
        assert len(svc._watcher) > 0
        _assert_exact(svc.store, tree)
        started = time.monotonic()
        svc.stop()
        assert time.monotonic() - started < 0.5
    finally:
        svc.stop()
    assert not svc._ingest_thread.is_alive()
    assert svc._watcher is None  # the loop closed its inotify fd


def test_event_ticks_keep_the_minimum_gap(spark, tmp_path):
    """A steady trickle of writes, a transfer every 0.1 s for 3 s on a 30 s
    timer: event-started ticks begin MIN_TICK_GAP_S apart or more, so the
    trickle commits a few times, not once per file, and all of it lands."""
    tree, svc, log = _event_service(spark, tmp_path, tick_seconds=30)
    svc.start_ingestion()
    try:
        log.wait_for(lambda ticks: len(ticks) >= 1, 120)
        log.quiet(0.5)
        landed = time.monotonic()
        for i in range(30):
            time.sleep(0.1)
            tree.transfer("T1", "ABC"[i % 3], "ABC"[(i + 1) % 3], "0.10")
        log.started_after(time.monotonic())  # the last file's close wakes it
        log.quiet(service.MIN_TICK_GAP_S + 0.5)
        starts = [s for s, _e, _f in log.ticks]
        assert min(b - a for a, b in zip(starts, starts[1:])) > service.MIN_TICK_GAP_S - 0.05
        assert sum(s > landed for s in starts) <= 3 / service.MIN_TICK_GAP_S + 3, log.ticks
        _assert_exact(svc.store, tree)
    finally:
        svc.stop()
    assert not svc._ingest_thread.is_alive()


def test_timer_ticks_without_a_watcher(spark, tmp_path, monkeypatch):
    """An event-less filesystem: when inotify cannot be set up, the loop
    ticks on the timer alone, as the reference does, and still ingests."""

    class Unavailable:
        def __init__(self):
            raise OSError(38, "inotify unavailable")

    monkeypatch.setattr(listing, "DirWatcher", Unavailable)
    tree, svc, log = _event_service(spark, tmp_path, tick_seconds=0.5)
    svc.start_ingestion()
    try:
        log.wait_for(lambda ticks: len(ticks) >= 3, 120)
        assert svc._watcher is None
        landed = time.monotonic()
        tree.transfer("T1", "C", "A", "2.25")
        log.wait_for(lambda ticks: any(f for s, _e, f in ticks if s > landed), 20)
        # idle ticks follow each other at the timer's pace
        log.wait_for(lambda ticks: sum(s > landed for s, _e, _f in ticks) >= 4, 20)
        starts = [s for s, _e, _f in log.ticks if s > landed]
        assert min(b - a for a, b in zip(starts, starts[1:])) > 0.4, starts
        _assert_exact(svc.store, tree)
    finally:
        svc.stop()
    assert not svc._ingest_thread.is_alive()


class _HalfWrittenTree(_Tree):
    """Writes every file in three steps a tick apart: open (an empty file
    lands), write, close. The close of one file is the event that wakes
    the tick which finds the next one still empty."""

    def __init__(self, root: str, log: _TickLog):
        super().__init__(root)
        self.log = log
        self.open_file = None

    def _close(self) -> bool:
        """Close the file left open; True when that wakes a tick. A
        transaction file does not: it is read only once an event names
        it, so its dir is not watched."""
        fh, self.open_file = self.open_file, None
        if fh is None:
            return False
        fh.close()
        return "/transaction/" not in fh.name

    def finish(self) -> None:
        """Close the last file; wait for a tick that saw it closed."""
        if self._close():
            self.log.started_after(time.monotonic())

    def _write(self, rel: str, content: str) -> str:
        path = os.path.join(self.root, rel)
        wakes = not os.path.isdir(os.path.dirname(path))  # a new dir wakes
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fh = open(path, "w")
        opened = time.monotonic()
        if self._close() or wakes:
            self.log.started_after(opened)  # this tick finds `path` empty
        fh.write(content)
        fh.flush()  # complete but not closed through the next tick
        self.open_file = fh
        return path


def test_half_written_files_across_event_ticks_ingest_exactly(spark, tmp_path):
    """Files written non-atomically while event-driven ticks run: an empty
    event file fails its tick and an empty snapshot meta defers its
    account; each examined account stays pending, so a retry picks it up.
    The tables end equal to the tree's ground truth — no transfer lost or
    duplicated, every marker exact."""
    seed, svc, log = _event_service(spark, tmp_path, tick_seconds=30)
    svc.start_ingestion()
    try:
        log.wait_for(lambda ticks: len(ticks) >= 1, 120)
        log.quiet(0.5)
        tree = _HalfWrittenTree(seed.root, log)
        tree.versions, tree.transfers, tree.n = seed.versions, seed.transfers, seed.n
        burst = time.monotonic()
        tree.account("T1", "NEW")
        tree.transfer("T1", "NEW", "A", "10")
        tree.transfer("T1", "B", "C", "0.5")
        tree.transfer("T1", "C", "NEW", "7.75")
        tree.finish()
        failed = [s for s, _e, f in log.ticks if s > burst and f is None]
        assert failed, "no tick read an event file mid-write"
        log.quiet(0.5)
        _assert_exact(svc.store, tree)
    finally:
        svc.stop()


def _live_fingerprints(store) -> dict:
    """The live freshness witness of each snapshot a request reads."""
    return {
        "tenant": balance_view.table_fingerprint(store, "tenant"),
        "account": balance_view.table_fingerprint(store, "account"),
        "balance_rollup": balance_view.freshness_token(store),
        "df:transfer": balance_view.table_fingerprint(store, "transfer"),
    }


def test_committing_tick_publishes_what_requests_read(spark, tmp_path):
    """After a tick that commits, each snapshot a request has read is fresh
    before any request arrives (the reload ran on the tick thread), and
    the next request hits it. A tick that fails after its commit publishes
    nothing; the next request reloads inline and still answers the tree's
    ground truth."""
    from decimal import Decimal

    from data_warehouse_spark.api.graphql_schema import execute

    tree, svc, log = _event_service(spark, tmp_path, tick_seconds=30)
    fail = threading.Event()
    logged = svc.pipeline.run_once

    def run_once():
        m = logged()
        if fail.is_set():
            fail.clear()
            raise RuntimeError("the tick fails after its commit")
        return m

    svc.pipeline.run_once = run_once
    app = svc.build_app()
    cache, client = app.serving_cache, app.test_client()
    query = (
        'query { tenants(limit: 10, offset: 0) { name } '
        'accounts(tenant: "T1", limit: 10, offset: 0) { name balance } '
        'transfers(tenant: "T1", amount_gte: 0, limit: 100, offset: 0) { transaction } }'
    )

    def ask() -> dict:
        resp = client.post("/graphql", json={"query": query})
        assert resp.status_code == 200, resp.data
        data = json.loads(resp.data)["data"]
        assert data == execute(svc.store, query).data  # the Spark path's answer
        want = tree.balances()
        assert {a["name"]: Decimal(str(a["balance"])) for a in data["accounts"]} == {
            a: want.get(("T1", a), Decimal(0)) for a in "ABC"
        }
        assert len(data["transfers"]) == len(tree.transfers)
        return data

    def converge() -> None:
        """Wake ticks until one is idle: it converges the rollup that the
        merge tick deferred (a new dir that is no tenant wakes one)."""
        for i in range(5):
            if balance_view.freshness_token(svc.store) is not None:
                return
            woken = time.monotonic()
            os.mkdir(os.path.join(tree.root, f"wake{i}"))
            log.started_after(woken)
        raise AssertionError("the rollup never converged")

    svc.start_ingestion()
    try:
        log.wait_for(lambda ticks: len(ticks) >= 1, 120)
        log.quiet(0.5)
        ask()
        assert set(cache._read) == set(_live_fingerprints(svc.store))

        landed = time.monotonic()
        tree.transfer("T1", "C", "A", "2.25")
        log.wait_for(lambda ticks: any(f for s, _e, f in ticks if s > landed), 20)
        converge()
        live = _live_fingerprints(svc.store)

        def published():  # every snapshot read before is fresh, unasked
            assert {k: cache._snaps[k][0] for k in live} == live

        eventually(published, timeout=10, interval=0.05)
        assert cache.counters["reload_on_publish"] >= 2  # the rollup and df:transfer
        before = dict(cache.counters)
        ask()
        for key in live:
            assert cache.counters[f"{key}_hit"] > before.get(f"{key}_hit", 0), key
            assert cache.counters[f"{key}_reload"] == before.get(f"{key}_reload", 0), key

        reloads = cache.counters["reload_on_publish"]
        fail.set()
        landed = time.monotonic()
        tree.transfer("T1", "A", "B", "0.75")
        log.started_after(landed)
        log.quiet(0.5)
        assert not fail.is_set()  # the tick committed, then failed
        assert cache.counters["reload_on_publish"] == reloads
        stale = cache._snaps["df:transfer"][0]
        assert stale != balance_view.table_fingerprint(svc.store, "transfer")
        ask()
        assert cache.counters["df:transfer_reload"] > before.get("df:transfer_reload", 0)
        _assert_exact(svc.store, tree)
    finally:
        svc.stop()
    assert not svc._ingest_thread.is_alive()
