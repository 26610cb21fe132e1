"""Maintained balance rollup: the serving-path materialization of Q6.

The reference recomputes every balance as a per-request SUM over the
balance-change fact (``GraphQLPersistence.scala:370-403``).  That is
O(changes) work per request — measured here at sf1 (6 M transfers,
~4 M change rows): 32 concurrent GraphQL clients pushed balance-page
p95 to ~45 s, far past the reference's own 20 s e2e deadline
(``bbtest/steps/http_steps.py:57``).  At 100 TB a per-request fact scan
is a non-starter; the standard warehouse answer is an incrementally
maintained aggregate (``operators/ivm.py``) serving O(accounts) reads.

This module keeps ``account_balance_rollup`` — the ivm COUNT/SUM rollup
of ``account_balance_change`` grouped by (tenant, name) — current from
the single-writer ingestion tick, and gives the GraphQL layer a
*provably fresh* read or nothing:

Freshness contract
    ``account_balance_change`` is append-only via
    ``TableStore.merge_insert_missing``, which adopts part files into
    the CURRENT version dir without a pointer swap — so version
    pointers cannot witness freshness.  Instead the witness is a
    **fingerprint of the version dir's part-file listing** (names +
    sizes + the version dir itself).  Every completed maintenance
    records, in an atomic table-level state file (``_freshness``,
    written AFTER its merges complete), the fingerprint pair
    (change-table state summarized, rollup state written).  A reader
    compares both against the LIVE fingerprints (three directory
    listings, no Spark job); on any mismatch it falls back to the
    direct aggregate — the fast path can be stale-but-unused, never
    stale-and-served.

Maintenance (single writer — the ingestion tick)
    * fingerprint unchanged            → noop (pure Python, no job);
    * fingerprint moved by exactly the files THIS tick adopted (the
      caller passes the pre-merge fingerprint and the adopted paths)
      → exact ivm delta from just those part files — file-level CDC
      for an append-only table, O(tick batch) not O(table);
    * anything else (crash between merge and maintenance, compaction
      rewriting files, external overwrite) → full recompute.  The
      mismatch rule makes every failure mode self-healing: a torn
      state can only disable the fast path until the next tick.

Scale shape: the delta path aggregates one tick's adopted files and
full-outer-joins two rollup-sized tables (ivm.apply_delta — broadcast
when the delta is tiny); the fact table appears in no steady-state
plan.  The serving read is a broadcast semi-join against O(accounts)
rows.

Write amplification (the partitioned-MERGE scale path): the rollup is
stored tenant-partitioned, and the delta path MERGEs only the changed
groups through ``TableStore.merge_upsert`` — copy-on-write rewrites the
tenant partitions the tick touched and hard-links every other tenant's
files unchanged — plus a ``merge_delete`` of groups whose row count
reached zero (impossible under the append-only change table, carried
for CDC generality).  A busy tick therefore writes O(accounts of the
touched tenants), not O(all accounts); the earlier full-publish design
(every maintenance rewrote the whole rollup) was documented as wrong
past ~10 M accounts.  Because MERGE swaps versions itself, the
freshness witness is no longer a per-version sidecar but an atomic
table-level state file recording the PAIR of fingerprints the
maintenance left behind: (change-table state summarized, rollup state
written).  A reader trusts the rollup only when BOTH match the live
fingerprints — torn maintenance (crash between merge and state write)
mismatches on the rollup side, a post-maintenance append mismatches on
the change side; either way the fast path disables itself and the next
tick repairs.
"""

from __future__ import annotations

import hashlib
import os
import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import ivm

# Guards lazy installation of ``store._fp_locks`` for store objects that
# predate TableStore's __init__-time dict (e.g. duck-typed test doubles).
# Without it two threads can each install a fresh dict and mint two
# distinct locks for the same key — defeating the single-flight exactly
# in the first-contention case it exists for. TableStore itself now
# creates the dict in __init__, so this path is the fallback only.
_FP_LOCKS_INIT = threading.Lock()


def _store_locks(store) -> dict:
    locks = getattr(store, "_fp_locks", None)
    if locks is None:
        with _FP_LOCKS_INIT:
            locks = getattr(store, "_fp_locks", None)
            if locks is None:
                locks = store._fp_locks = {}
    return locks


ABC_TABLE = "account_balance_change"
ROLLUP_TABLE = "account_balance_rollup"
GROUP_COLS = ["tenant", "name"]
SUM_COLS = ["amount"]
# table-level freshness state (atomic JSON: the (abc, rollup) fingerprint
# pair the last completed maintenance recorded) — lives NEXT TO the version
# dirs, not inside one, because partitioned MERGE swaps versions itself
STATE_FILE = "_freshness"

# F.sum over the ingest DECIMAL(28,10) amount widens to DECIMAL(38,10);
# storing that exact type keeps the fast path bit-identical to the
# direct aggregate (queries.account_balances with a key batch).
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("nn_amount", T.LongType(), False),
        T.StructField("sum_amount", T.DecimalType(38, 10), True),
    ]
)


def table_fingerprint(store, name: str) -> str | None:
    """Fingerprint of a table's CURRENT on-disk state: version dir +
    sorted (relative path, size) of its parquet part files.  Append adds
    files, compaction swaps the dir, overwrite swaps the dir — every
    content-changing operation moves the fingerprint (the witness version
    pointers cannot be for append-without-swap tables).  None when the
    table has never been written.

    Memoized on the store's in-process mutation counter: the walk is
    O(partition dirs) of GIL-bound driver work (~0.12 s at sf1 on the
    (tenant, month) fact layout — it DOMINATED per-request latency under
    32 concurrent clients before the memo), and the counter is bumped at
    the start AND end of every mutating store operation, so a memo can
    never outlive — or be captured mid-way through — a content change.
    Stores without the counter (unit fakes, external writers) walk every
    time, keeping the pure content-witness semantics."""
    mut = getattr(store, "mutations", None)
    memo = getattr(store, "_fp_memo", None)
    if mut is not None:
        if memo is None:
            memo = store._fp_memo = {}
        hit = memo.get(name)
        if hit is not None and hit[0] == mut:
            return hit[1]
        # SINGLE-FLIGHT the walk: during a merge the mutation counter
        # bumps per sub-operation, and on every new epoch all 32 request
        # threads used to start the same O(dirs) walk concurrently —
        # each stretched ~Nx by the GIL convoy (stack-sampled at ~70% of
        # total thread time in a 32-client serving run). One thread walks,
        # the rest block on the lock (GIL released) and read the memo.
        lock = _store_locks(store).setdefault(name, threading.Lock())
        with lock:
            mut = getattr(store, "mutations", None)
            hit = memo.get(name)
            if hit is not None and hit[0] == mut:
                return hit[1]
            fp = _walk_fingerprint(store, name)
            if mut is not None and mut == getattr(store, "mutations", None):
                memo[name] = (mut, fp)
            return fp
    return _walk_fingerprint(store, name)


def _walk_fingerprint(store, name: str) -> str | None:
    vdir = store._resolve(name)
    if vdir is None:
        return None
    h = hashlib.sha256(os.path.basename(vdir).encode())
    entries = []
    for dirpath, _dirs, files in os.walk(vdir):
        rel = os.path.relpath(dirpath, vdir)
        for f in files:
            if f.endswith(".parquet"):
                entries.append(
                    (os.path.join(rel, f), os.path.getsize(os.path.join(dirpath, f)))
                )
    for path, size in sorted(entries):
        h.update(f"{path}\x00{size}\x01".encode())
    return h.hexdigest()


def abc_fingerprint(store) -> str | None:
    """The change table's fingerprint — the rollup's freshness witness."""
    return table_fingerprint(store, ABC_TABLE)


def _version_root(path: str) -> str:
    """The version dir an adopted part file lives in: walk up past hive
    partition dirs (``col=value``).  Used as basePath so pyspark recovers
    the partition column — correct even when a post-merge compaction has
    already swapped the table's CURRENT pointer elsewhere."""
    d = os.path.dirname(path)
    while "=" in os.path.basename(d):
        d = os.path.dirname(d)
    return d


def _state_path(store) -> str:
    return os.path.join(store._table_dir(ROLLUP_TABLE), STATE_FILE)


def _read_state(store) -> dict | None:
    """The (abc, rollup) fingerprint pair the last completed maintenance
    recorded, or None (never maintained / unreadable).

    Memoized on the state file's (mtime_ns, size): the state now carries
    the applied-file inventory (O(files) JSON), and every request's
    freshness check reads it — re-parsing per request under 32 threads
    was measured as a GIL hot-spot. Atomic-replace publication means a
    changed state always changes the (mtime_ns, size) witness."""
    import json

    path = _state_path(store)
    try:
        stat = os.stat(path)
    except OSError:
        return None
    key = (stat.st_mtime_ns, stat.st_size)
    memo = getattr(store, "_state_memo", None)
    if memo is not None and memo[0] == key:
        return memo[1]
    try:
        with open(path) as fh:
            st = json.load(fh)
        st = st if isinstance(st, dict) and "abc" in st and "rollup" in st else None
    except (OSError, ValueError):
        return None
    try:
        store._state_memo = (key, st)
    except AttributeError:
        pass  # stores with __slots__ — just skip the memo
    return st


def _abc_inventory(vdir: str) -> dict[str, int]:
    """{relative path: size} of the change table's parquet part files —
    the applied-file record the stale-window serving path diffs against."""
    inv: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(vdir):
        rel = os.path.relpath(dirpath, vdir)
        for f in files:
            if f.endswith(".parquet"):
                inv[os.path.join(rel, f)] = os.path.getsize(
                    os.path.join(dirpath, f)
                )
    return inv


def _write_state(store, abc_fp: str) -> None:
    """Atomically record what the maintenance just left behind: the change
    table state it summarized and the rollup state it wrote.  Written
    AFTER the merges complete — a crash before this line leaves a state
    whose rollup fingerprint mismatches the live rollup, disabling the
    fast path until the next maintenance repairs.

    Also records the change table's FILE INVENTORY (relpath → size) so
    the serving tier can answer fresh balances during the next tick's
    (abc commit → rollup maintained) window as rollup + exact Arrow
    delta over the appended files (:func:`stale_window`). The inventory
    is only recorded when the fingerprint still matches after the walk —
    a concurrent append (impossible under the single-flight tick, but
    unit tests drive maintain directly) then merely disables the window
    path until the next maintenance, never misrepresents it."""
    import json

    state: dict = {"abc": abc_fp, "rollup": table_fingerprint(store, ROLLUP_TABLE)}
    vdir = store._resolve(ABC_TABLE)
    if vdir is not None:
        inv = _abc_inventory(vdir)
        if abc_fingerprint(store) == abc_fp:
            state["abc_vdir"] = os.path.basename(vdir)
            state["abc_files"] = inv
    os.makedirs(store._table_dir(ROLLUP_TABLE), exist_ok=True)
    tmp = f"{_state_path(store)}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _state_path(store))


def freshness_token(store) -> str | None:
    """Cheap freshness witness (three directory listings, no Spark job):
    a token identifying the current fresh rollup state, or None when the
    fast path must not be trusted.  Fresh means the recorded state pair
    matches BOTH live fingerprints: the change table hasn't moved since
    the maintenance, and the rollup on disk is exactly what it wrote."""
    st = _read_state(store)
    if st is None:
        return None
    if st["abc"] != abc_fingerprint(store):
        return None
    if st["rollup"] != table_fingerprint(store, ROLLUP_TABLE):
        return None
    return st["rollup"]


def stale_window(store) -> tuple[str, str, list[str]] | None:
    """The serving tier's bridge across the (change-table commit → rollup
    maintained) gap: when the ONLY divergence since the last maintenance
    is APPENDED change files, return ``(token, rollup_fp, new_paths)`` —
    a fresh balance is then the maintained rollup plus an exact Arrow
    delta over those immutable new files, with no Spark job and no
    staleness (the values equal what the direct SUM would compute).

    None when the window does not hold: rollup rewritten mid-maintain,
    change-table version swap (compaction/overwrite — files replaced,
    not appended), an applied file mutated, or a pre-inventory state
    file. The token hashes the exact new-file set, so a pinned caller
    (torn-read guard) refuses if another tick lands mid-request.

    Memoized on the store's mutation counter AND single-flighted (same
    discipline as table_fingerprint): the inventory diff walks
    O(partition dirs) of GIL-bound driver work, and r10's deferred rollup
    maintenance made the window the STEADY-STATE balance serving path —
    a stack-sampled serving run caught a bad draw with ~6000 of ~16000
    thread samples inside this walk (every mutation epoch, all 32 request
    threads re-walked concurrently, each stretched ~Nx by the GIL
    convoy; wall 62 s vs 14 s on good draws). One thread walks per
    epoch; the rest block on the lock (GIL released) and read the memo."""
    mut = getattr(store, "mutations", None)
    memo = getattr(store, "_window_memo", None)
    if mut is not None and memo is not None and memo[0] == mut:
        return memo[1]
    if mut is None:
        return _stale_window_uncached(store)
    lock = _store_locks(store).setdefault("__stale_window__", threading.Lock())
    with lock:
        mut = getattr(store, "mutations", None)
        memo = getattr(store, "_window_memo", None)
        if memo is not None and memo[0] == mut:
            return memo[1]
        result = _stale_window_uncached(store)
        if mut == getattr(store, "mutations", None):
            store._window_memo = (mut, result)
        _remember_window(store, result)
        return result


def _remember_window(store, win) -> None:
    """Record a valid window token → (rollup_fp, new_paths) in a small
    per-store history.  The parts are IMMUTABLE (the maintained rollup's
    files and append-only change files), so a request that pinned this
    token can be served its exact pinned state even after later adopts
    have moved the live token on — see window_for_token.  Called under
    the stale-window single-flight lock (one writer per epoch)."""
    if win is None:
        return
    from collections import OrderedDict

    hist = getattr(store, "_window_history", None)
    if hist is None:
        hist = store._window_history = OrderedDict()
    if win[0] not in hist:
        hist[win[0]] = (win[1], win[2])
        while len(hist) > 16:
            hist.popitem(last=False)


def window_for_token(store, token: str | None):
    """(rollup_fp, new_paths) previously published under ``token``, or
    None.  The serving tier's answer to a TORN pin: a 2 s ingest tick
    adopting files mid-request moves the live window token, and before
    r11 the pinned request fell back to the Spark path — under a 9 s
    contended merge tick EVERY in-flight balance request fell back,
    measured as the fixture→queryable tail (stack-sampled serving run).
    Because the window's inputs are immutable, serving the PINNED state
    is exact snapshot-isolation semantics — the same read the reference
    gets from Postgres MVCC during a concurrent ingest transaction
    (reads see the pre-write snapshot).  Files deleted since (compaction)
    surface as a failed read → the caller falls back to Spark."""
    if token is None:
        return None
    hist = getattr(store, "_window_history", None)
    if hist is None:
        return None
    return hist.get(token)


def _stale_window_uncached(store) -> tuple[str, str, list[str]] | None:
    st = _read_state(store)
    if not st or "abc_files" not in st:
        return None
    if st["rollup"] != table_fingerprint(store, ROLLUP_TABLE):
        return None
    vdir = store._resolve(ABC_TABLE)
    if vdir is None or os.path.basename(vdir) != st.get("abc_vdir"):
        return None
    cur = _abc_inventory(vdir)
    applied = st["abc_files"]
    for rel, size in applied.items():
        if cur.get(rel) != size:
            return None
    new_rels = sorted(set(cur) - set(applied))
    if not new_rels:
        return None  # fresh — the normal token path serves
    h = hashlib.sha256()
    for rel in new_rels:
        h.update(f"{rel}\x00{cur[rel]}\x01".encode())
    token = f"window:{st['rollup']}:{h.hexdigest()}"
    return token, st["rollup"], [os.path.join(vdir, r) for r in new_rels]


def serving_token(store) -> str | None:
    """The balance-serving witness: the freshness token when the rollup is
    fresh, else the stale-window token when the append-only window holds,
    else None (Spark path). Equal tokens ⇒ identical serving state —
    the per-request pin contract."""
    token = freshness_token(store)
    if token is not None:
        return token
    win = stale_window(store)
    return win[0] if win is not None else None


def maintain(
    store,
    fp_before: str | None = None,
    adopted_files: list[str] | None = None,
    defer_under_files: int | None = None,
) -> str:
    """Converge the rollup to the change table's current state.  Returns
    the action taken: ``"noop"`` | ``"deferred"`` | ``"delta"`` |
    ``"recompute"``.

    The exact delta is now derived from :func:`stale_window` — EVERY part
    file appended since the last completed maintenance — which subsumes
    the original single-tick ``(fp_before, adopted_files)`` form (kept as
    a fallback for pre-inventory state files) and lets maintenance run
    every Nth tick: N deferred ticks converge in ONE combined CDC apply.

    ``defer_under_files``: when set and the stale window holds with fewer
    appended files than the bound, DO NOTHING and return ``"deferred"`` —
    correct because the window IS the serving tier's exact bridge
    (rollup + Arrow delta over those immutable files equals the direct
    SUM; ``api/kv_tier.py`` delta_sums).  The busy tick passes the bound
    to keep maintenance off its critical path; idle ticks call bare and
    converge — maintenance runs when the system has time, the classic
    deferred-view-maintenance scheduling (Zhou et al., "Lazy Maintenance
    of Materialized Views", VLDB'07).  Deferral only ever happens when
    the window path can serve; a broken window (compaction, foreign
    write) always converges immediately.

    The delta path is a partitioned MERGE: only the groups the window's
    files touch are upserted, so copy-on-write rewrites only the
    touched tenant partitions (file-pinned in tests/test_balance_view.py);
    zero-count groups are merge-deleted (CDC generality — unreachable
    under the append-only change table)."""
    fp_now = abc_fingerprint(store)
    if fp_now is None:
        return "noop"  # no changes ever: serving falls back to the empty direct agg
    st = _read_state(store)
    rollup_intact = (
        st is not None and st["rollup"] == table_fingerprint(store, ROLLUP_TABLE)
    )
    if rollup_intact and st["abc"] == fp_now:
        return "noop"

    spark = store.spark
    sum_t = ROLLUP_SCHEMA["sum_amount"].dataType
    delta_files: list[str] | None = None
    win = stale_window(store) if rollup_intact else None
    if win is not None:
        if defer_under_files is not None and len(win[2]) < defer_under_files:
            return "deferred"
        delta_files = win[2]
    elif (
        rollup_intact
        and fp_before is not None
        and st["abc"] == fp_before
        and adopted_files
        and all(os.path.isfile(p) for p in adopted_files)
    ):
        # pre-inventory state file: exact single-tick file-level CDC —
        # the rollup summarized precisely the pre-merge state, and these
        # part files are precisely what the merge added
        delta_files = list(adopted_files)
    if delta_files:
        # exact file-level CDC over the appended files.  basePath
        # recovers the tenant partition column from the directory names —
        # derived from the delta files themselves, NOT the current
        # pointer: a compaction inside the merge swaps a new version dir
        # while the adopted files live in the (still retained) one they
        # were adopted into.  The delta stays exact through that:
        # compaction rewrites files, not rows.
        try:
            cdc = (
                spark.read.option("basePath", _version_root(delta_files[0]))
                .schema(store.schemas[ABC_TABLE])
                .parquet(*delta_files)
                .withColumn(ivm.CHANGE_COL, F.lit("insert"))
            )
            delta = ivm.cdc_delta(cdc, GROUP_COLS, SUM_COLS)
            # restrict the old side to the touched GROUPS (null-safe semi
            # join) so the upsert batch is O(changed groups); the literal
            # tenant IN-list prunes the rollup scan to touched partitions
            touched_tenants = [r[0] for r in delta.select("tenant").distinct().collect()]
            old = store.read(ROLLUP_TABLE).filter(
                store._partition_filter("tenant", touched_tenants)
            )
            keys = delta.select(*GROUP_COLS)
            old_touched = old.join(
                F.broadcast(keys), store._key_cond(old, keys, GROUP_COLS), "left_semi"
            )
            merged = ivm.apply_delta(
                old_touched, delta, GROUP_COLS, SUM_COLS, drop_empty=False
            ).persist()
            try:
                upserts = merged.filter(F.col("n_rows") > 0).withColumn(
                    "sum_amount", F.col("sum_amount").cast(sum_t)
                )
                doomed = merged.filter(F.col("n_rows") <= 0).select(*GROUP_COLS)
                store.merge_upsert(ROLLUP_TABLE, upserts, GROUP_COLS)
                # doomed is computed from the persisted `merged` (its plan
                # reads the PRE-upsert rollup version, still retained)
                store.merge_delete(ROLLUP_TABLE, doomed, GROUP_COLS)
            finally:
                merged.unpersist()
            _write_state(store, fp_now)
            return "delta"
        except Exception:
            # the delta path is an optimization; any failure degrades to
            # the recompute below (self-healing) rather than failing the
            # ingestion tick that hosts the maintenance
            pass
    new_rollup = ivm.compute_rollup(store.read(ABC_TABLE), GROUP_COLS, SUM_COLS)
    store.overwrite(ROLLUP_TABLE, new_rollup.withColumn(
        "sum_amount", F.col("sum_amount").cast(sum_t)))
    _write_state(store, fp_now)
    return "recompute"


def read_if_fresh(store) -> DataFrame | None:
    """Serving fast path: the rollup, served only when the state file
    proves it summarizes the change table's LIVE state (see
    :func:`freshness_token` — no Spark job).  Reading the resolved
    version dir directly (not through the pointer) makes the result
    immune to a concurrent maintenance swap between check and read: the
    previous version's files are retained across one swap."""
    if freshness_token(store) is None:
        return None
    rdir = store._resolve(ROLLUP_TABLE)
    if rdir is None:
        return None
    reader = store.spark.read
    if store.partitions.get(ROLLUP_TABLE):
        # hive partition dirs would infer string anyway, but pin the schema
        reader = reader.schema(ROLLUP_SCHEMA)
    return reader.parquet(rdir).select(*[f.name for f in ROLLUP_SCHEMA.fields])


def balances_from_rollup(rollup: DataFrame, keys: DataFrame) -> DataFrame:
    """(tenant, name, balance) for a key batch, from the maintained
    rollup — the EXACT output contract of ``queries.account_balances``
    with a key batch: one row per key, missing/all-NULL keys defaulting
    to 0 cast MONEY_SUM (the reference's getOrElse(0) —
    GraphQLPersistence.scala:400).  Both joins broadcast the small side:
    the key batch against the O(accounts) rollup, then the ≤|keys| hits
    back onto the keys — no shuffle at any size."""
    from ..schemas import MONEY_SUM

    hits = rollup.join(F.broadcast(keys), GROUP_COLS, "left_semi").select(
        "tenant",
        "name",
        F.when(F.col("nn_amount") == 0, F.lit(None))
        .otherwise(F.col("sum_amount"))
        .alias("balance"),
    )
    return keys.select("tenant", "name").join(
        F.broadcast(hits), GROUP_COLS, "left"
    ).select(
        "tenant",
        "name",
        F.coalesce(F.col("balance"), F.lit(0).cast(MONEY_SUM)).alias("balance"),
    )
