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

from data_warehouse_spark.sources.listing import ListingCache

# streaming/serving e2e tier: full-pipeline ticks / HTTP / stateful
# streams (see pytest.ini) - deselected from the per-commit unit core
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
