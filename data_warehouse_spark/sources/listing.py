"""Distributed filesystem listing for the primary-storage crawl.

The reference's explorer reads only watermark-selected files: it LISTS
directory levels (names are data: tenant, account, snapshot version, event
status/transaction) and READS content only where the watermarks say there is
something new (PrimaryDataExplorationService.scala:107-178, notably the
event-dir count skip ``lastSynchronizedEvent >= data.size``).

This module is the listing half of that contract. Directory scans are
distributed as RDD ``flatMap`` stages over the parent-directory list — the
same work Spark's ``InMemoryFileIndex`` parallelizes for large tables, but
WITHOUT instantiating a read of file contents. Content reads happen later,
against explicit path lists the watermark logic has pruned to O(new).

On a real cluster this becomes a listFiles against the object store /
DFS namenode; the per-tick volume is O(#accounts) directory entries of
strings, never file bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SNAPSHOT_FILE_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("account", T.StringType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
    ]
)

EVENT_FILE_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("account", T.StringType(), False),
        T.StructField("snapshot_version", T.IntegerType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
    ]
)


def _slices(n: int) -> int:
    return max(1, min(n, 64))


def snapshot_inventory(spark: SparkSession, root: str, tenants: list[str]) -> DataFrame:
    """(tenant, account, version, path) for every snapshot FILE, from
    directory listings alone — the version is the file name (S1/S2 + the
    snapshot half of D4). Accounts are the ``version == 0`` rows (an account
    without snapshot 0 is undiscoverable, as in the reference where the
    metadata read requires it)."""

    def scan_accounts(tenant: str):
        base = os.path.join(root, f"t_{tenant}", "account")
        try:
            with os.scandir(base) as it:
                return [(tenant, e.name) for e in it if e.is_dir()]
        except (FileNotFoundError, NotADirectoryError):
            return []

    def scan_snapshots(ta):
        tenant, account = ta
        base = os.path.join(root, f"t_{tenant}", "account", account, "snapshot")
        out = []
        try:
            with os.scandir(base) as it:
                for e in it:
                    if e.is_file() and e.name.isdigit():
                        out.append((tenant, account, int(e.name), e.path))
        except (FileNotFoundError, NotADirectoryError):
            pass
        return out

    sc = spark.sparkContext
    # parallelism is #tenants-bound; a repartition between the two levels
    # was measured a net LOSS at 8 tenants x 50k accounts (idle tick
    # 3.4 s -> 4.6 s: the per-tick shuffle costs more than the widened
    # scandir parallelism saves) — scale-out at width is sharding tenants
    # across ingest workers, not intra-tick shuffles (INGEST_BENCH.json)
    rdd = (
        sc.parallelize(tenants, _slices(len(tenants) or 1))
        .flatMap(scan_accounts)
        .flatMap(scan_snapshots)
    )
    return spark.createDataFrame(rdd, SNAPSHOT_FILE_SCHEMA)


def event_files(spark: SparkSession, root: str, snapshot_dirs: DataFrame) -> DataFrame:
    """Event-file listing for the given (tenant, account, version) snapshot
    rows: (tenant, account, snapshot_version, filename, path). Names carry
    (status, hint, transaction); only the event VERSION lives in content —
    which is exactly what the count-skip lets us avoid reading."""

    def scan_events(row):
        tenant, account, version = row.tenant, row.account, int(row.version)
        base = os.path.join(
            root, f"t_{tenant}", "account", account, "events", f"{version:010d}"
        )
        out = []
        try:
            with os.scandir(base) as it:
                for e in it:
                    if e.is_file() and e.name:
                        out.append((tenant, account, version, e.name, e.path))
        except (FileNotFoundError, NotADirectoryError):
            pass
        return out

    rdd = snapshot_dirs.select("tenant", "account", "version").rdd.flatMap(scan_events)
    return spark.createDataFrame(rdd, EVENT_FILE_SCHEMA)


# --- per-directory mtime watermark cache (idle ticks O(changed dirs)) --------
def _guarded_mtime(path: str, now_ns: int, guard_ns: int) -> int | None:
    """mtime_ns, or None when missing OR within the concurrency guard
    window (a writer can land inside the same timestamp after our scan)."""
    try:
        ns = os.stat(path).st_mtime_ns
    except OSError:
        return None
    return None if ns > now_ns - guard_ns else ns


def _scan_account_dirs(
    root: str, tenant: str, account: str, now_ns: int,
    guard_ns: int = 2_000_000_000,
    read_content: bool = False,
) -> tuple:
    """One account's fresh (snapshot rows, event-file rows, tracked-dir
    mtimes[, content bytes]) — the unit of a delta rescan; runs
    driver-side for small deltas and inside an RDD map for wide ones
    (executor processes — zero driver GIL time). Event files are listed
    for EVERY version dir here (a superset of the watermark-selected set
    — the tick filters later), so the delta path needs no second listing
    job.

    ``read_content=True`` additionally captures the RAW BYTES of every
    1-line file the tick could want to parse — event files and the
    snapshot-0 meta file — while the scan is already in the directory
    (4th return element, path→bytes). The wide-delta tick then parses
    driver-side from the dict instead of paying a SECOND executor job
    for content (~0.3 s of job round trip per merge tick at sf1). A
    read that races a concurrent delete is simply omitted; the parser
    falls back to a direct read for missing paths."""
    adir = os.path.join(root, f"t_{tenant}", "account", account)
    snap_dir = os.path.join(adir, "snapshot")
    ev_dir = os.path.join(adir, "events")
    dirs: dict[str, int | None] = {
        snap_dir: _guarded_mtime(snap_dir, now_ns, guard_ns),
        ev_dir: _guarded_mtime(ev_dir, now_ns, guard_ns),
    }
    rows: list[tuple[str, str, int, str]] = []
    ev_rows: list[tuple[str, str, int, str, str]] = []
    content: dict[str, bytes] = {}

    def _grab(path: str) -> None:
        try:
            with open(path, "rb") as fh:
                content[path] = fh.read()
        except OSError:
            pass  # raced a writer/delete — parser falls back to a re-read

    try:
        with os.scandir(snap_dir) as it:
            for e in it:
                if e.is_file() and e.name.isdigit():
                    rows.append((tenant, account, int(e.name), e.path))
                    if read_content and int(e.name) == 0:
                        _grab(e.path)
    except (FileNotFoundError, NotADirectoryError):
        pass
    try:
        with os.scandir(ev_dir) as it:
            version_dirs = [e for e in it if e.is_dir()]
    except (FileNotFoundError, NotADirectoryError):
        version_dirs = []
    for vd in version_dirs:
        dirs[vd.path] = _guarded_mtime(vd.path, now_ns, guard_ns)
        if not vd.name.isdigit():
            continue
        version = int(vd.name)
        try:
            with os.scandir(vd.path) as vit:
                for f in vit:
                    if f.is_file() and f.name:
                        ev_rows.append(
                            (tenant, account, version, f.name, f.path)
                        )
                        if read_content:
                            _grab(f.path)
        except (FileNotFoundError, NotADirectoryError):
            pass
    if read_content:
        return rows, ev_rows, dirs, content
    return rows, ev_rows, dirs


def rescan_accounts_distributed(
    spark: SparkSession, root: str, keys: list, now_ns: int,
    read_content: bool = False,
) -> list:
    """[(tenant, account, snap_rows, ev_rows, dirs[, content])] for a WIDE delta,
    scanned on executors: a few thousand driver-side scandirs are ~0.25 s
    of pure Python, but under 32 concurrent request threads the GIL
    round-robin stretched that to ~8 s (serving bench, sf1). Executor
    processes have their own interpreters — the driver only collects."""
    sc = spark.sparkContext

    def scan(key):
        tenant, account = key
        return (
            tenant,
            account,
            *_scan_account_dirs(
                root, tenant, account, now_ns, read_content=read_content
            ),
        )

    return sc.parallelize(keys, _slices(len(keys))).map(scan).collect()


class ListingCache:
    """Makes a steady-state ingest tick **O(changed directories)** instead of
    O(tree width).

    The reference re-walks the whole account tree every 2 s tick
    (PrimaryDataExplorationService.scala:107-178); that is the measured
    O(tree-width) floor at warehouse scale (TICK_ATTRIBUTION_SF10: a sf10
    idle tick spent 3.2 s listing having read zero files). This cache
    replaces the re-walk with a directory-mtime watermark sweep:

    * per account we record the mtime of every directory whose content can
      change the tick's outcome — ``snapshot/`` (new snapshot files),
      ``events/`` (new version dirs), and each ``events/<version>/``
      (new event files). POSIX bumps a directory's mtime exactly when an
      entry is added/removed in it, so an unchanged mtime set proves the
      subtree the tick would list is byte-identical to last examination.
    * a tick is a **deterministic pure function of (tree, account marks)**;
      marks only move when the tick reads something. So an account whose
      examination read nothing and moved nothing reaches a fixed point:
      re-examining it is a no-op until one of its tracked mtimes changes.
      ``pending`` records the complement — accounts whose last tick DID
      read/move stay pending and are re-examined regardless of mtimes
      (covers take(2) leftovers: consuming 2 of 5 snapshots changes no
      dir, but marks moved, so the account stays hot).

    Concurrency guard: an mtime recorded within ``GUARD_NS`` of the scan is
    untrusted (a concurrent writer can land inside the same timestamp after
    our scandir) — the dir is treated as changed until a sweep observes it
    quiet. Crash safety: state is in-memory; a restarted pipeline does one
    full scan (first tick) and re-converges — the cache is an optimization,
    never a correctness input.

    Scale: the sweep is O(accounts) *stat calls* (no scandir, no content),
    threadable because ``os.stat`` releases the GIL; the expensive parts —
    scandir + Spark joins — are O(changed ∪ pending). At extreme width the
    deployment story stays the committed one (INGEST_BENCH: shard tenants
    across ingest workers), each worker sweeping its shard.
    """

    GUARD_NS = 2_000_000_000  # 2 s — mtime resolution + writer-race window

    def __init__(self) -> None:
        self.primed = False
        # tenant -> mtime_ns of t_<tenant>/account parent (None = rescan)
        self._parents: dict[str, int | None] = {}
        # (tenant, account) -> [dirs: dict[path -> mtime_ns|None], pending]
        self._accounts: dict[tuple[str, str], list] = {}

    # -- helpers ---------------------------------------------------------
    @staticmethod
    def _mtime(path: str, now_ns: int) -> int | None:
        """mtime_ns, or None when missing OR too fresh to trust."""
        return _guarded_mtime(path, now_ns, ListingCache.GUARD_NS)

    def _account_names(self, root: str, tenant: str, now_ns: int) -> list[str]:
        """Account dir names for a tenant; scandir only when the parent dir
        changed (account creation/deletion bumps the parent mtime), else
        the cached key set."""
        base = os.path.join(root, f"t_{tenant}", "account")
        cur = self._mtime(base, now_ns)
        if cur is not None and cur == self._parents.get(tenant):
            return [a for (t, a) in self._accounts if t == tenant]
        names: list[str] = []
        try:
            with os.scandir(base) as it:
                names = [e.name for e in it if e.is_dir()]
        except (FileNotFoundError, NotADirectoryError):
            pass
        self._parents[tenant] = cur
        for a in names:
            self._accounts.setdefault((tenant, a), [{}, True])
        return names

    # -- lifecycle -------------------------------------------------------
    def prime(self, keys) -> None:
        """Register accounts found by a full (first-tick) inventory scan as
        pending — they settle to dormant after one examined-idle tick."""
        for t, a in keys:
            self._accounts.setdefault((t, a), [{}, True])
        self.primed = True

    def sweep(self, root: str, tenants: list[str], now_ns: int) -> list[tuple[str, str]]:
        """(tenant, account) keys needing examination this tick: pending
        ones, plus any whose tracked dir mtimes moved (or are untrusted)."""
        changed: list[tuple[str, str]] = []
        for tenant in tenants:
            self._account_names(root, tenant, now_ns)
        for key, (dirs, pending) in self._accounts.items():
            if pending or not dirs:
                changed.append(key)
                continue
            for path, stored in dirs.items():
                if stored is None or self._mtime(path, now_ns) != stored:
                    changed.append(key)
                    break
        return changed

    def rescan_account(
        self, root: str, tenant: str, account: str, now_ns: int
    ) -> list[tuple[str, str, int, str]]:
        """Fresh (snapshot rows, event-file rows) for one account —
        SNAPSHOT_FILE_SCHEMA / EVENT_FILE_SCHEMA shapes — refreshing the
        tracked mtime set: snapshot/, events/, every events/<version>/."""
        rows, ev_rows, dirs = _scan_account_dirs(root, tenant, account, now_ns)
        self.adopt(tenant, account, dirs)
        return rows, ev_rows

    def adopt(self, tenant: str, account: str, dirs: dict) -> None:
        """Install an externally-scanned mtime set (the RDD rescan path
        collects (rows, dirs) from executors — no driver GIL time)."""
        state = self._accounts.setdefault((tenant, account), [{}, True])
        state[0] = dirs

    def settle(self, examined, active) -> None:
        """After a tick: examined accounts that read nothing and moved no
        marks are dormant; ``active`` ones stay pending. A failed tick
        passes every examined key as active — their rescanned mtimes are
        already adopted, so only pending makes the retry re-examine them."""
        active = set(active)
        for key in examined:
            state = self._accounts.get(key)
            if state is not None:
                state[1] = key in active
