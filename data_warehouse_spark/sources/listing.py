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

:class:`DirWatcher` is the wake source beside it: a Linux inotify watch on
the directories the cache tracks (plus the tenant and account levels
above them), so the ingest loop can tick when a primary file lands instead
of on the next timer beat. It only shortens the wait — a missed event costs
at most the timer.
"""

from __future__ import annotations

import ctypes
import errno
import logging
import math
import os
import select
import struct
import time

log = logging.getLogger(__name__)


# --- per-directory mtime watermark cache (idle ticks O(changed dirs)) --------
# the tracked "mtime" of a missing dir: a trusted value of its own, so an
# absence that persists compares unchanged, and the dir appearing compares
# changed
MISSING = -1


def _guarded_mtime(path: str, now_ns: int, guard_ns: int) -> int | None:
    """mtime_ns; :data:`MISSING` when the path does not exist; None when
    the mtime is within the concurrency guard window (a writer can land
    inside the same timestamp after our scan)."""
    try:
        ns = os.stat(path).st_mtime_ns
    except OSError:
        return MISSING
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
    quiet. A missing dir (an account without ``events/`` yet) is tracked
    as :data:`MISSING`, a trusted value: it stays unchanged until the dir
    appears. Crash safety: state is in-memory; a new cache starts empty, its
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
        # (tenant, account) -> [dirs: dict[path -> mtime_ns|MISSING|None],
        # pending]
        self._accounts: dict[tuple[str, str], list] = {}

    # -- helpers ---------------------------------------------------------
    @staticmethod
    def _mtime(path: str, now_ns: int) -> int | None:
        """mtime_ns, MISSING, or None when too fresh to trust."""
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

    def watch_dirs(self, root: str) -> set[str]:
        """Every directory whose new entries can change a tick: the root
        (new tenants), each tenant dir and its ``account/`` dir (new
        accounts), each account dir (a new ``snapshot/`` or ``events/``)
        and every existing dir the mtime sweep tracks (a missing one is
        covered by its parent's watch)."""
        out = {root}
        for tenant in self._parents:
            tdir = os.path.join(root, f"t_{tenant}")
            out.add(tdir)
            out.add(os.path.join(tdir, "account"))
        for (tenant, account), (dirs, _pending) in self._accounts.items():
            out.add(os.path.join(root, f"t_{tenant}", "account", account))
            out.update(p for p, mtime in dirs.items() if mtime != MISSING)
        return out


# --- inotify wake source (Linux, through ctypes; no package needed) ----------
IN_CLOSE_WRITE = 0x00000008
IN_MOVED_TO = 0x00000080
IN_CREATE = 0x00000100
IN_MOVE_SELF = 0x00000800
IN_Q_OVERFLOW = 0x00004000
IN_IGNORED = 0x00008000
IN_ONLYDIR = 0x01000000
IN_ISDIR = 0x40000000
_WATCH_MASK = IN_CLOSE_WRITE | IN_MOVED_TO | IN_CREATE | IN_MOVE_SELF | IN_ONLYDIR
_EVENT = struct.Struct("iIII")  # wd, mask, cookie, len (then len name bytes)

# a wake is debounced: events are drained until the tree has been quiet for
# QUIET_S, but no longer than DEBOUNCE_CAP_S after the first one, so a
# burst of files coalesces into one tick
QUIET_S = 0.02
DEBOUNCE_CAP_S = 0.2
# a directory first watched after a tick began may have had entries land
# before its watch existed; its mtime (coarse-clock, so allow some slack)
# tells. A miss here would only cost the timer.
_MTIME_SLACK_NS = 50_000_000


class DirWatcher:
    """Linux inotify over a growing set of directories, plus a self-pipe
    that :meth:`interrupt` writes, both waited on in one ``poll``.

    It wakes on ``IN_CLOSE_WRITE`` / ``IN_MOVED_TO`` (a file is complete),
    on ``IN_CREATE`` of a directory only (a created file may still be
    half-written; its close follows) and on ``IN_Q_OVERFLOW`` (events were
    dropped). Correctness never depends on it: the tick is a pure function
    of (tree, account marks) and the listing cache's mtime guard re-examines
    recently touched dirs, so a missed event costs at most the timer.

    Raises :class:`OSError` when inotify is unavailable (non-Linux host,
    instance limit); the caller then waits on the timer alone. A watch that
    cannot be added is left to the timer too: a vanished dir is skipped,
    and a full watch table (``ENOSPC``) stops further adds.
    """

    def __init__(self) -> None:
        try:
            libc = ctypes.CDLL(None, use_errno=True)
            init1 = libc.inotify_init1
            self._add = libc.inotify_add_watch
            self._rm = libc.inotify_rm_watch
        except (OSError, TypeError, AttributeError) as e:  # no inotify here
            raise OSError(errno.ENOSYS, "inotify unavailable") from e
        init1.argtypes, init1.restype = [ctypes.c_int], ctypes.c_int
        self._add.argtypes = [ctypes.c_int, ctypes.c_char_p, ctypes.c_uint32]
        self._add.restype = ctypes.c_int
        self._rm.argtypes, self._rm.restype = [ctypes.c_int, ctypes.c_int], ctypes.c_int
        fd = init1(os.O_NONBLOCK | os.O_CLOEXEC)
        if fd < 0:
            err = ctypes.get_errno()
            raise OSError(err, os.strerror(err))
        self._fd = fd
        self._pipe_r, self._pipe_w = os.pipe()
        self._poll = select.poll()
        for f in (fd, self._pipe_r):
            self._poll.register(f, select.POLLIN)
        self._paths: dict[str, int] = {}  # watched path -> wd
        self._wds: dict[int, str] = {}
        self._full = False

    def __len__(self) -> int:
        return len(self._paths)

    def sync(self, paths, since_ns: int) -> bool:
        """Watch every path in ``paths`` not yet watched. True when a newly
        watched dir changed at or after ``since_ns`` (the start of the tick
        that listed it): an entry landed before its watch existed, so the
        loop should tick again without waiting for an event."""
        changed = False
        for path in paths:
            if self._full:
                break
            if path in self._paths:
                continue
            wd = self._add(self._fd, os.fsencode(path), _WATCH_MASK)
            if wd < 0:
                err = ctypes.get_errno()
                if err in (errno.ENOSPC, errno.ENOMEM):
                    log.warning(
                        "inotify watch table full at %d watches; "
                        "unwatched dirs wait for the timer", len(self._paths)
                    )
                    self._full = True
                continue  # vanished / not a dir / no access: timer only
            self._paths[path] = wd
            self._wds[wd] = path
            try:
                changed |= os.stat(path).st_mtime_ns >= since_ns - _MTIME_SLACK_NS
            except OSError:
                pass
        return changed

    def _drain(self) -> bool:
        """Read every queued event; True when one of them should wake."""
        wake = False
        while True:
            try:
                buf = os.read(self._fd, 65536)
            except BlockingIOError:
                return wake
            off = 0
            while off < len(buf):
                wd, mask, _cookie, n = _EVENT.unpack_from(buf, off)
                off += _EVENT.size + n
                if mask & (IN_CLOSE_WRITE | IN_MOVED_TO | IN_Q_OVERFLOW):
                    wake = True
                elif mask & IN_CREATE and mask & IN_ISDIR:
                    wake = True
                if mask & (IN_IGNORED | IN_MOVE_SELF):
                    # the dir is gone or moved: forget it so a dir created
                    # again at the same path is watched again
                    path = self._wds.pop(wd, None)
                    if path is not None:
                        self._paths.pop(path, None)
                        if mask & IN_MOVE_SELF:
                            self._rm(self._fd, wd)

    def _ready(self, timeout: float) -> tuple[bool, bool]:
        """(an inotify event is queued, interrupted) after waiting at most
        ``timeout`` seconds."""
        ready = {f for f, _ev in self._poll.poll(math.ceil(timeout * 1000))}
        return self._fd in ready, self._pipe_r in ready

    def wait(self, timeout: float) -> bool:
        """Block until a debounced file event (True), the timeout or an
        :meth:`interrupt` (False)."""
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                return False
            event, interrupted = self._ready(left)
            if interrupted:
                return False
            if event and self._drain():
                break
        cap = time.monotonic() + DEBOUNCE_CAP_S
        while True:
            quiet = min(QUIET_S, cap - time.monotonic())
            if quiet <= 0:
                return True
            event, interrupted = self._ready(quiet)
            if not event or interrupted:
                return True
            self._drain()

    def hold(self, seconds: float) -> bool:
        """Sleep ``seconds`` without reacting to file events (they stay
        queued for the next :meth:`wait`); False when interrupted."""
        if seconds <= 0:
            return True
        return not select.select([self._pipe_r], [], [], seconds)[0]

    def interrupt(self) -> None:
        """Make a pending or the next :meth:`wait` return at once."""
        os.write(self._pipe_w, b"x")

    def close(self) -> None:
        for fd in (self._fd, self._pipe_r, self._pipe_w):
            os.close(fd)
