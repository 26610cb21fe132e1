"""Service entrypoint: the drop-in runtime shape of the reference.

``python -m data_warehouse_spark`` boots the same two loops the reference
runs (Main.scala / boot modules): the primary-storage exploration loop
(single-flight ticks) and the GraphQL HTTP server, with StatsD metrics and
graceful SIGTERM shutdown.

The reference ticks on a fixed 2 s timer (PrimaryDataExplorerActor.scala:
34,43). Here a tick also starts when a primary file lands: the loop
waits on a Linux inotify watch of the tree (``sources/listing.py``
:class:`DirWatcher`) or the timer, whichever comes first, so the interval
is the upper bound on pick-up lag, not the lag itself. An event starts a
tick no sooner than ``MIN_TICK_GAP_S`` (0.75 s) after the previous tick
started, which bounds the commit rate under a steady trickle of writes.
Without inotify the loop waits on the timer alone, as the reference does.

A tick that commits also publishes: before it waits for the next tick,
the loop revalidates the serving snapshots requests have read
(:meth:`ServingCache.refresh`), so the reload after a commit runs on the
tick thread instead of on the first request that finds it stale.

Configuration via environment (the reference's DATA_WAREHOUSE_* convention —
application.conf:46-111):

  DATA_WAREHOUSE_PRIMARY_STORAGE_PATH    primary storage root (default /data)
  DATA_WAREHOUSE_SECONDARY_STORAGE_PATH  warehouse table dir (default /warehouse)
  DATA_WAREHOUSE_HTTP_PORT               GraphQL/health port (default 8080)
  DATA_WAREHOUSE_EXPLORATION_INTERVAL    most seconds between ticks, the upper
                                         bound on pick-up lag (default 2)
  DATA_WAREHOUSE_STATSD_ENDPOINT         host:port for metrics (off if empty)
"""

from __future__ import annotations

import logging
import os
import signal
import threading
import time

log = logging.getLogger("data_warehouse_spark.service")

# a file event starts a tick no sooner than this many seconds after the
# previous tick started (an interval shorter than it still wins): a steady
# trickle of writes then commits at most 1/gap times a second, not once per
# landed transaction. The gap is most of the pick-up lag of a burst that
# lands right after a tick; the rest is the debounce, the merge tick, one
# poll and the request, ~0.15-0.25 s. Measured on a 4-core box (perfbench,
# two rounds of 10 pairs per workload against 1.25 s): fresh_p50_s
# 1.38-1.45 -> 0.93-0.94 s on both workloads, every pair better. The
# benchmark's ingest_tps (60 / burst span) swings more as the span
# shrinks: its quartile spread grew from ~2 to 3-11/s, about the 25%
# bound at the widest, so the gap stays here until the benchmark times
# pick-up directly
MIN_TICK_GAP_S = 0.75


class Service:
    def __init__(
        self,
        spark=None,
        primary_root: str | None = None,
        warehouse_root: str | None = None,
        http_port: int | None = None,
        tick_seconds: float | None = None,
        statsd=None,
    ):
        from .metrics import StatsD
        from .session import get_spark
        from .streaming.ingest import IngestionPipeline, warehouse_store

        self.spark = spark or get_spark(app_name="data-warehouse")
        self.primary_root = primary_root or os.environ.get(
            "DATA_WAREHOUSE_PRIMARY_STORAGE_PATH", "/data"
        )
        warehouse_root = warehouse_root or os.environ.get(
            "DATA_WAREHOUSE_SECONDARY_STORAGE_PATH", "/warehouse"
        )
        self.http_port = http_port or int(os.environ.get("DATA_WAREHOUSE_HTTP_PORT", "8080"))
        self.tick_seconds = tick_seconds or float(
            os.environ.get("DATA_WAREHOUSE_EXPLORATION_INTERVAL", "2")
        )
        self.statsd = statsd or StatsD()
        self.store = warehouse_store(self.spark, warehouse_root)
        self.pipeline = IngestionPipeline(self.spark, self.primary_root, self.store)
        self._stop = threading.Event()
        self._ingest_thread: threading.Thread | None = None
        # the running loop's file-event watcher; the lock keeps stop() from
        # interrupting one the loop is closing
        self._watcher = None
        self._watcher_lock = threading.Lock()
        # the app's snapshot cache (build_app), which a committing tick
        # publishes to
        self.serving_cache = None

    # --- ingestion loop (explorer actor equivalent) ---------------------
    def _ingest_loop(self) -> None:
        # every Spark job this thread submits runs in the "ingest" pool —
        # under FAIR scheduling (session.py) a long tick shares the cluster
        # with serving jobs instead of convoying them (the reference's
        # two-pool isolation, application.conf:66-109)
        try:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ingest"
            )
        except Exception:  # pragma: no cover - session without a live sc
            pass
        watcher = self._open_watcher()
        try:
            while not self._stop.is_set():
                started = self._now()
                since_ns = time.time_ns()
                mutations = self.store.mutations
                try:
                    m = self.pipeline.run_once()
                    self.statsd.emit_tick(m)
                    self.statsd.emit_memory(self.spark)
                    if self.serving_cache is not None and self.store.mutations != mutations:
                        self.serving_cache.refresh()
                except Exception:  # supervisor-restart semantics: log, retry next tick
                    log.exception("exploration tick failed; will retry")
                self._wait_next(watcher, started, since_ns)
        finally:
            if watcher is not None:
                with self._watcher_lock:
                    self._watcher = None
                    watcher.close()

    def _wait_next(self, watcher, started: float, since_ns: int) -> None:
        """Wait for the next tick: the timer, or a file event once
        ``MIN_TICK_GAP_S`` has passed since ``started`` (an event that lands
        sooner stays queued until then)."""
        if watcher is None:
            self._stop.wait(max(0.0, self.tick_seconds - (self._now() - started)))
            return
        changed = watcher.sync(self.pipeline.watch_dirs(), since_ns)
        gap = min(MIN_TICK_GAP_S, self.tick_seconds) - (self._now() - started)
        if watcher.hold(gap) and not changed:
            watcher.wait(max(0.0, self.tick_seconds - (self._now() - started)))

    def _open_watcher(self):
        """The loop's wake source, or None (timer only) when inotify is
        unavailable here."""
        from .sources.listing import DirWatcher

        try:
            watcher = DirWatcher()
        except OSError as e:
            log.warning("no file-event watcher (%s); ticking on the timer", e)
            return None
        with self._watcher_lock:
            self._watcher = watcher
        return watcher

    @staticmethod
    def _now() -> float:
        return time.monotonic()

    def start_ingestion(self) -> None:
        self._ingest_thread = threading.Thread(
            target=self._ingest_loop, name="exploration", daemon=True
        )
        self._ingest_thread.start()

    def stop(self) -> None:
        """Graceful: finish the in-flight tick, then stop (KillSwitch/D11).
        A loop waiting for its next tick wakes at once."""
        self._stop.set()
        with self._watcher_lock:
            if self._watcher is not None:
                self._watcher.interrupt()
        if self._ingest_thread is not None:
            self._ingest_thread.join(timeout=60)

    # --- HTTP -----------------------------------------------------------
    def build_app(self):
        from .api.http import build_app

        app = build_app(self.store)
        self.serving_cache = app.serving_cache
        return app

    def run(self) -> None:
        app = self.build_app()
        self.start_ingestion()
        signal.signal(signal.SIGTERM, lambda *_: self.stop())
        try:
            app.run(host="0.0.0.0", port=self.http_port, use_reloader=False)
        finally:
            self.stop()
            self.spark.stop()


def main() -> None:
    logging.basicConfig(level=logging.INFO)
    Service().run()


if __name__ == "__main__":
    main()
