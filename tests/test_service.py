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

from data_warehouse_spark.metrics import StatsD
from data_warehouse_spark.service import Service

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
