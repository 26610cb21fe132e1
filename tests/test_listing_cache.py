"""ListingCache (sources/listing.py): per-directory mtime watermarks that
make a steady-state ingest tick O(changed dirs) instead of O(tree width).

Pure-Python unit tests here (the cache never touches Spark); the
pipeline-level behavior — idle fast-path, delta inventory, pending
semantics across real ticks — is covered in test_ingest.py.
"""

from __future__ import annotations

import pytest

import os
import time

from data_warehouse_spark.sources import listing
from data_warehouse_spark.sources.listing import DirWatcher, ListingCache

# ingest/serving e2e tier: full-pipeline ticks / HTTP / store e2e
# (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow


def _mk(root, tenant, account, snaps=(0,), events=None):
    adir = os.path.join(root, f"t_{tenant}", "account", account)
    os.makedirs(os.path.join(adir, "snapshot"), exist_ok=True)
    for v in snaps:
        with open(os.path.join(adir, "snapshot", f"{v:010d}"), "w") as fh:
            fh.write("CZK FORMAT\n")
    for version, names in (events or {}).items():
        evd = os.path.join(adir, "events", f"{version:010d}")
        os.makedirs(evd, exist_ok=True)
        for n in names:
            with open(os.path.join(evd, n), "w") as fh:
                fh.write("1\n")


def _age(root):
    """Backdate every dir/file mtime past the GUARD so the cache trusts it
    (tests write 'now'; production trees are quiet between ticks)."""
    old = time.time() - 10
    for dirpath, dirnames, filenames in os.walk(root):
        os.utime(dirpath, (old, old))
        for f in filenames:
            os.utime(os.path.join(dirpath, f), (old, old))


def test_pending_until_settled(tmp_path):
    root = str(tmp_path)
    _mk(root, "A", "acc1", events={0: ["1_x_TRN"]})
    _age(root)
    cache = ListingCache()
    now = time.time_ns()
    cache.sweep(root, ["A"], now)  # registers every account dir as pending
    # registered accounts are pending: examined even with no dir change
    assert cache.sweep(root, ["A"], now) == [("A", "acc1")]
    cache.rescan_account(root, "A", "acc1", now)
    # an examination that read something keeps the account hot...
    cache.settle([("A", "acc1")], [("A", "acc1")])
    assert cache.sweep(root, ["A"], now) == [("A", "acc1")]
    # ...an idle examination settles it dormant
    cache.settle([("A", "acc1")], [])
    assert cache.sweep(root, ["A"], now) == []


def test_detects_new_event_file_snapshot_and_account(tmp_path):
    root = str(tmp_path)
    _mk(root, "A", "acc1", events={0: ["1_x_TRN"]})
    _age(root)
    cache = ListingCache()
    now = time.time_ns()
    cache.sweep(root, ["A"], now)
    cache.rescan_account(root, "A", "acc1", now)
    cache.settle([("A", "acc1")], [])
    assert cache.sweep(root, ["A"], now) == []

    # new event file in a tracked version dir → dir mtime moves → changed
    _mk(root, "A", "acc1", snaps=(), events={0: ["2_y_TRN2"]})
    assert ("A", "acc1") in cache.sweep(root, ["A"], time.time_ns())

    _age(root)
    now = time.time_ns()
    cache.rescan_account(root, "A", "acc1", now)
    cache.settle([("A", "acc1")], [])
    assert cache.sweep(root, ["A"], now) == []

    # new snapshot file → snapshot/ mtime moves
    _mk(root, "A", "acc1", snaps=(1,))
    assert ("A", "acc1") in cache.sweep(root, ["A"], time.time_ns())
    _age(root)
    now = time.time_ns()
    cache.rescan_account(root, "A", "acc1", now)
    cache.settle([("A", "acc1")], [])

    # new events VERSION dir → events/ parent mtime moves
    _mk(root, "A", "acc1", snaps=(), events={1: ["1_z_TRN3"]})
    assert ("A", "acc1") in cache.sweep(root, ["A"], time.time_ns())
    _age(root)
    now = time.time_ns()
    cache.rescan_account(root, "A", "acc1", now)
    cache.settle([("A", "acc1")], [])
    assert cache.sweep(root, ["A"], now) == []

    # new ACCOUNT dir → account-parent mtime moves → discovered pending
    _mk(root, "A", "acc2")
    got = cache.sweep(root, ["A"], time.time_ns())
    assert ("A", "acc2") in got


def test_fresh_mtimes_are_untrusted(tmp_path):
    """A dir modified within the guard window can hide a same-timestamp
    concurrent write — it must stay 'changed' until observed quiet."""
    root = str(tmp_path)
    _mk(root, "A", "acc1", events={0: ["1_x_TRN"]})  # mtimes = now
    cache = ListingCache()
    now = time.time_ns()
    cache.sweep(root, ["A"], now)
    cache.rescan_account(root, "A", "acc1", now)
    cache.settle([("A", "acc1")], [])
    # nothing changed on disk, but the recorded mtimes were too fresh
    assert cache.sweep(root, ["A"], time.time_ns()) == [("A", "acc1")]


def test_rescan_rows_match_full_listing_shape(tmp_path):
    root = str(tmp_path)
    _mk(root, "A", "acc1", snaps=(0, 3), events={0: ["1_x_T"], 3: ["1_y_T2"]})
    _age(root)
    cache = ListingCache()
    rows, _ev = cache.rescan_account(root, "A", "acc1", time.time_ns())
    assert sorted((t, a, v) for t, a, v, _p in rows) == [
        ("A", "acc1", 0),
        ("A", "acc1", 3),
    ]
    for _t, _a, v, p in rows:
        assert p.endswith(f"{v:010d}") and os.path.isfile(p)


def test_account_names_cached_when_parent_unchanged(tmp_path):
    root = str(tmp_path)
    _mk(root, "A", "acc1")
    _mk(root, "A", "acc2")
    _age(root)
    cache = ListingCache()
    now = time.time_ns()
    assert sorted(cache._account_names(root, "A", now)) == ["acc1", "acc2"]
    # parent unchanged → cached key set, no scandir needed
    assert sorted(cache._account_names(root, "A", now)) == ["acc1", "acc2"]


def test_missing_events_dir_is_examined_once_until_it_appears(tmp_path):
    """Snapshot-only accounts (no ``events/`` yet), backdated past the
    guard, are examined once: an unchanged absence is unchanged. The one
    whose ``events/`` appears is examined again, alone; a missing dir is
    not watched (its account dir's watch sees it appear)."""
    root = str(tmp_path)
    names = [f"acc{i}" for i in range(5)]
    for a in names:
        _mk(root, "T", a)
    _age(root)
    c = ListingCache()
    examined = []
    for _round in range(3):
        keys = c.sweep(root, ["T"], time.time_ns())
        examined.append(len(keys))
        for key in keys:
            c.rescan_account(root, *key, time.time_ns())
        c.settle(keys, ())
    assert examined == [5, 0, 0]
    adir = os.path.join(root, "t_T", "account", "acc3")
    assert os.path.join(adir, "events") not in c.watch_dirs(root)
    assert adir in c.watch_dirs(root)
    _mk(root, "T", "acc3", events={0: ["1__X"]})
    _age(adir)
    assert c.sweep(root, ["T"], time.time_ns()) == [("T", "acc3")]


def test_watch_dirs_cover_every_level_a_tick_lists(tmp_path):
    """The watched set: the root, each tenant and its account/ dir, each
    account dir, and every dir the mtime sweep tracks."""
    root = str(tmp_path)
    _mk(root, "T", "A", events={0: ["1__X"]})
    _age(root)
    c = ListingCache()
    for key in c.sweep(root, ["T"], time.time_ns()):
        c.rescan_account(root, *key, time.time_ns())
    adir = os.path.join(root, "t_T", "account", "A")
    assert c.watch_dirs(root) == {
        root,
        os.path.join(root, "t_T"),
        os.path.join(root, "t_T", "account"),
        adir,
        os.path.join(adir, "snapshot"),
        os.path.join(adir, "events"),
        os.path.join(adir, "events", "0000000000"),
    }


def test_dir_watcher_wakes_on_complete_files_and_new_dirs(tmp_path):
    """A created file does not wake (it may be half-written); its close
    does, and so does a new dir. A newly watched dir that changed since
    the tick began asks for a tick at once; a vanished one is skipped."""
    root = str(tmp_path)
    w = DirWatcher()
    try:
        since = time.time_ns()
        assert w.sync([root, os.path.join(root, "gone")], since) is True
        assert len(w) == 1
        assert w.sync([root], since) is False  # already watched

        fh = open(os.path.join(root, "f"), "w")
        assert w.wait(0.2) is False  # open alone: no wake
        fh.write("1\n")
        fh.close()
        t0 = time.monotonic()
        assert w.wait(5) is True
        assert time.monotonic() - t0 < 1.0

        os.mkdir(os.path.join(root, "sub"))
        assert w.wait(5) is True
        sub = os.path.join(root, "sub")
        old = time.time() - 10
        os.utime(sub, (old, old))
        assert w.sync([sub], time.time_ns()) is False  # quiet since: no re-tick
        os.rmdir(sub)  # its watch is dropped, so a new sub is watched anew
        assert w.wait(0.2) is False
        assert len(w) == 1

        w.interrupt()
        t0 = time.monotonic()
        assert w.wait(30) is False
        assert time.monotonic() - t0 < 0.5
    finally:
        w.close()


def test_dir_watcher_file_closed_in_a_new_dir_before_sync_wakes(tmp_path):
    """The ingest loop's order: a new dir's creation wakes a tick, the tick
    finds a file in it still open, and the file closes before the loop's
    sync after that tick has watched the dir. The close still wakes: the
    drain that saw the dir created watched it, and every dir made below
    it before that watch existed."""
    root = str(tmp_path)
    w = DirWatcher()
    try:
        w.sync([root], 0)
        leaf = os.path.join(root, "acc", "events", "0000000000")
        os.makedirs(leaf)
        fh = open(os.path.join(leaf, "1_10_TRN"), "w")  # lands empty
        assert w.wait(5) is True  # the new dir wakes a tick
        assert len(w) == 4
        dirs = [root, os.path.join(root, "acc"), os.path.dirname(leaf), leaf]
        old = time.time() - 10
        for d in dirs:
            os.utime(d, (old, old))  # the dirs changed before the tick
        since = time.time_ns()  # that tick starts and reads the empty file
        fh.write("1\n")
        fh.close()  # the writer finishes after the tick
        assert w.sync(dirs, since) is False  # already watched: no catch-up
        t0 = time.monotonic()
        assert w.wait(5) is True  # the close is seen
        assert time.monotonic() - t0 < 1.0
    finally:
        w.close()


def test_dir_watcher_coalesces_a_burst(tmp_path):
    """A burst of files closing within the quiet window is one wake."""
    root = str(tmp_path)
    w = DirWatcher()
    try:
        w.sync([root], 0)
        for i in range(50):
            with open(os.path.join(root, f"f{i}"), "w") as fh:
                fh.write("x")
        assert w.wait(5) is True
        assert w.wait(0.1) is False  # nothing left queued
    finally:
        w.close()


def test_dir_watcher_hold_keeps_events_queued(tmp_path):
    """A hold sleeps through file events, which stay queued for the next
    wait; an interrupt ends it at once."""
    root = str(tmp_path)
    w = DirWatcher()
    try:
        w.sync([root], 0)
        with open(os.path.join(root, "f"), "w") as fh:
            fh.write("x")
        t0 = time.monotonic()
        assert w.hold(0.3) is True
        assert time.monotonic() - t0 >= 0.3
        t0 = time.monotonic()
        assert w.wait(5) is True  # the queued close
        assert time.monotonic() - t0 < 1.0
        assert w.hold(0) is True
        w.interrupt()
        t0 = time.monotonic()
        assert w.hold(30) is False
        assert time.monotonic() - t0 < 0.5
    finally:
        w.close()


@pytest.mark.parametrize("mask, wakes", [
    (listing.IN_Q_OVERFLOW, True),  # events were dropped: tick
    (listing.IN_CLOSE_WRITE, True),
    (listing.IN_MOVED_TO, True),
    (listing.IN_CREATE | listing.IN_ISDIR, True),
    (listing.IN_CREATE, False),  # a file may still be half-written
])
def test_dir_watcher_wake_rule(mask, wakes):
    """Which queued inotify events wake the loop, fed as raw records."""
    w = DirWatcher()
    r, wr = os.pipe()
    os.set_blocking(r, False)
    real, w._fd = w._fd, r
    try:
        os.write(wr, listing._EVENT.pack(-1, mask, 0, 4) + b"f\0\0\0")
        assert w._drain() is wakes
    finally:
        w._fd = real
        os.close(r)
        os.close(wr)
        w.close()
