"""StatsD metrics emitter (operational parity with the reference's metrics
surface — StatsDClient.scala + MemoryMonitorActor.scala).

Emitted series (names match the reference's observable set, prefix
configurable):
  <prefix>.discovery.tenant / .account / .transfer   counters per tick
  <prefix>.memory.bytes                              gauge: current resident
                                                     bytes of this process
                                                     plus the driver JVM

Plain UDP datagrams in the statsd line format (``name:value|c`` /
``name:value|g``) — fire-and-forget, never blocks or fails the pipeline.
"""

from __future__ import annotations

import os
import socket


class StatsD:
    def __init__(self, endpoint: str | None = None, prefix: str = "dwh"):
        endpoint = endpoint or os.environ.get("DATA_WAREHOUSE_STATSD_ENDPOINT", "")
        self.prefix = prefix
        self._jvm_pid: int | None = None
        self._addr: tuple[str, int] | None = None
        self._sock: socket.socket | None = None
        if endpoint:
            host, _, port = endpoint.partition(":")
            self._addr = (host or "127.0.0.1", int(port or 8125))
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)

    @property
    def enabled(self) -> bool:
        return self._addr is not None

    def _send(self, line: str) -> None:
        if self._sock and self._addr:
            try:
                self._sock.sendto(line.encode(), self._addr)
            except OSError:
                pass  # metrics must never take down ingestion

    def count(self, name: str, value: int) -> None:
        if value:
            self._send(f"{self.prefix}.{name}:{value}|c")

    def gauge(self, name: str, value: int) -> None:
        self._send(f"{self.prefix}.{name}:{value}|g")

    def emit_tick(self, m) -> None:
        """Discovery counters for one ingestion tick (TickMetrics)."""
        self.count("discovery.tenant", m.tenants_discovered)
        self.count("discovery.account", m.accounts_discovered)
        self.count("discovery.transfer", m.transfers_discovered)

    def emit_memory(self, spark) -> None:
        """Current resident bytes of this process plus ``spark``'s driver
        JVM (~3/4 of the service's memory); the JVM's pid is asked once."""
        if not self.enabled:
            return
        if self._jvm_pid is None:
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            self._jvm_pid = mf.getRuntimeMXBean().getPid()
        try:
            rss_kb = _vm_rss_kb("self") + _vm_rss_kb(self._jvm_pid)
        except OSError:
            return  # no procfs, or the JVM is gone: skip this sample
        self.gauge("memory.bytes", rss_kb * 1024)


def _vm_rss_kb(pid: int | str) -> int:
    """A process's current resident set size in KiB (``VmRSS`` in
    ``/proc/<pid>/status``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0
