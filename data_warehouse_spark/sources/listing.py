"""Primary-storage listing for the ingestion crawl.

The reference's explorer reads only watermark-selected files: it LISTS
directory levels (names are data: tenant, account, snapshot version, event
status/transaction) and READS content only where the watermarks say there is
something new (PrimaryDataExplorationService.scala:107-178, notably the
event-dir count skip ``lastSynchronizedEvent >= data.size``).

This module is the listing half of that contract: :class:`ListingCache`
finds the accounts whose directories changed since they were last
examined, and rescans exactly those — snapshot and event files by name,
never their content. Content reads happen later, against explicit path
lists the watermark logic has pruned to O(new).
"""

from __future__ import annotations

import os


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
) -> tuple:
    """One account's fresh (snapshot rows, event-file rows, tracked-dir
    mtimes) — the unit of a rescan. Event files are listed for EVERY
    version dir here (a superset of the watermark-selected set — the tick
    filters later), so the tick needs no second listing pass."""
    adir = os.path.join(root, f"t_{tenant}", "account", account)
    snap_dir = os.path.join(adir, "snapshot")
    ev_dir = os.path.join(adir, "events")
    dirs: dict[str, int | None] = {
        snap_dir: _guarded_mtime(snap_dir, now_ns, guard_ns),
        ev_dir: _guarded_mtime(ev_dir, now_ns, guard_ns),
    }
    rows: list[tuple[str, str, int, str]] = []
    ev_rows: list[tuple[str, str, int, str, str]] = []
    try:
        with os.scandir(snap_dir) as it:
            for e in it:
                if e.is_file() and e.name.isdigit():
                    rows.append((tenant, account, int(e.name), e.path))
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
        except (FileNotFoundError, NotADirectoryError):
            pass
    return rows, ev_rows, dirs


class ListingCache:
    """Makes a steady-state ingest tick **O(changed directories)** instead of
    O(tree width).

    The reference re-walks the whole account tree every 2 s tick
    (PrimaryDataExplorationService.scala:107-178), an O(tree-width) floor
    even for a tick that reads nothing. This cache replaces the re-walk
    with a directory-mtime watermark sweep:

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
    quiet. Crash safety: state is in-memory; a new cache starts empty, its
    first sweep registers every account dir as pending, so a restarted
    pipeline examines the whole tree once and re-converges — the cache is
    an optimization, never a correctness input.

    Scale: the sweep is O(accounts) *stat calls* (no scandir, no content);
    the scandirs and content reads are O(changed ∪ pending).
    """

    GUARD_NS = 2_000_000_000  # 2 s — mtime resolution + writer-race window

    def __init__(self) -> None:
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
    ) -> tuple[list, list]:
        """Fresh (snapshot rows, event-file rows) for one account —
        ``(tenant, account, version, path)`` and ``(tenant, account,
        snapshot_version, filename, path)`` tuples — refreshing the
        tracked mtime set: snapshot/, events/, every events/<version>/."""
        rows, ev_rows, dirs = _scan_account_dirs(root, tenant, account, now_ns)
        self._accounts.setdefault((tenant, account), [{}, True])[0] = dirs
        return rows, ev_rows

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
