"""Version-pinned in-memory snapshots of the DIMENSION tables for the
HTTP serving tier.

Why this exists — the measured serving story (32-core box):
submitting Spark jobs per HTTP request is the wrong tool for sub-second
point serving.  With 32 concurrent GraphQL clients against the sf1
warehouse, even after the maintained balance rollup removed the
O(changes) aggregate, each request still paid 3-5 local Spark jobs
(driver createDataFrame of the key batch, semi-joins, collects) — ~1.6 s
per request uncontended, tens of seconds at p95 under concurrency.  The
lakehouse serving architecture splits the roles: **Spark maintains the
artifacts** (the copy-on-write warehouse tables, the incrementally
maintained balance rollup), and the **API tier memory-maps the small
dimension artifacts** and answers from them directly — tenant, account,
and the balance rollup are all O(accounts).  The transfer FACT table is
too big to snapshot: each transfers page is read afresh, from the Arrow
fact tier for tenant + equality shapes and from Spark (partition-pruned
scans) for range shapes.  No page or response is kept between requests.

Freshness is the same witness the rollup maintenance uses
(``balance_view.table_fingerprint``): every snapshot records the
fingerprint of the exact on-disk state it loaded; a request re-checks
the live fingerprint (directory listings — no Spark job) and on ANY
mismatch the caller falls back to the Spark path while the next access
reloads.  A snapshot can be stale-and-unused, never stale-and-served —
the contract pinned for the rollup extends to every snapshot here.
After a tick that commits, the ingest loop revalidates the snapshots
requests have asked for (:meth:`ServingCache.refresh`), so that reload
usually runs on its thread rather than on a request's.

Scale bound: snapshots hold O(rows) driver memory AND cost O(rows) of
GIL-bound load time on every reload (a tick cadence invalidates them
each tick), so each loader refuses tables above ``max_rows`` (metadata
row counts only — cheap; see ``__init__`` for the measured load-rate
math behind the default).  Past the bound the KV tier
(``api/kv_tier.py``) serves point lookups and tenant pages from the
same artifacts via row-group-pruned pyarrow reads — O(row group) per
read, O(file footers) per rebuild — with the Spark path as the final
fallback.  The fresh-or-None interface is identical across all three.

Parquet decode is pyarrow (no py4j round-trip); hive partition dirs are
decoded with ``arrow_parts.hive_value`` — the exact inverse of the
store's ``_part_dir_value`` (Spark's hive escaping).
"""

from __future__ import annotations

import collections
import decimal
import os
import threading
from typing import Any

from ..operators import balance_view
from ..sources.arrow_parts import hive_value
from . import kv_tier

_TWO_DP = decimal.Decimal("0.01")
_ZERO = decimal.Decimal("0.00")


def _parquet_files(vdir: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(vdir):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def _num_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def _read_columns(files: list[str], columns: list[str], vdir: str,
                  partition_col: str | None) -> list[tuple]:
    """Rows as tuples in ``columns`` order; ``partition_col`` (if given) is
    recovered from the hive directory name of each file."""
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    data_cols = [c for c in columns if c != partition_col]
    for f in files:
        pval = None
        if partition_col is not None:
            d = os.path.basename(os.path.dirname(f))
            prefix = f"{partition_col}="
            if not d.startswith(prefix):
                raise ValueError(f"expected hive dir '{prefix}*', got {d!r}")
            pval = hive_value(d[len(prefix):])
        tbl = pq.read_table(f, columns=data_cols)
        cols = [tbl.column(c).to_pylist() for c in data_cols]
        for vals in zip(*cols) if cols else []:
            row = dict(zip(data_cols, vals))
            if partition_col is not None:
                row[partition_col] = pval
            rows.append(tuple(row[c] for c in columns))
    return rows


class ServingCache:
    """Thread-safe, fingerprint-keyed snapshots of the dimension tables,
    and the read routing of the transfers page.  Every snapshot accessor
    returns the snapshot ONLY when its recorded fingerprint equals the
    table's live fingerprint, else None (caller uses the Spark path);
    loads are serialized under a lock with a double-check so concurrent
    requests after a tick reload once.  Transfer pages are never kept:
    :meth:`transfers_page` reads each one from the KV tier or Spark."""

    def __init__(self, store, max_rows: int = 200_000, max_page_rows: int = 10_000):
        # max_rows is a LOAD-TIME bound, not only a memory bound. The
        # snapshot loader decodes parquet into Python dicts at ~200k
        # rows/s of GIL-bound driver work, and every ingest tick moves
        # the fingerprint — so with the 2 s tick cadence a snapshot
        # reload must cost ~1 s or it stalls every request thread (the
        # GIL serializes them). Measured at sf10 (1.5M accounts, just
        # under the old 2M bound): 7.9 s account + 7.5 s rollup reload
        # per tick → transfers p95 35 s, PAST the reference deadline;
        # the KV tier answers the same 2000-key batch in 14 ms with a
        # 50 ms metadata index rebuild per tick. 200k rows ≈ the 1 s
        # reload the cadence absorbs; everything larger serves from
        # the KV tier (api/kv_tier.py), which is O(row group) per read
        # and O(file footers) per rebuild at any table size.
        self.store = store
        self.max_rows = max_rows
        self.max_page_rows = max_page_rows
        self._lock = threading.Lock()
        self._snaps: dict[str, tuple[str, Any]] = {}
        # {key: (fingerprint, loader)} of each snapshot a request has asked
        # for since a publish last revalidated it: what the next one does
        self._read: dict[str, tuple] = {}
        # observability: per-kind hit/miss/fallback counts (the
        # measurement of WHICH path served a run)
        self.counters: "collections.Counter[str]" = collections.Counter()
        # the tier PAST the snapshot bound: row-group-pruned point reads
        # over the same artifacts (kv_tier module docstring) — tables the
        # snapshot refuses (> max_rows) serve point lookups from here
        # instead of per-request Spark jobs; shares this cache's counters
        self.kv = kv_tier.KVTier(store)
        self.kv.counters = self.counters
        # fact-page tier: transfer pages keyed/sorted by (transaction,
        # transfer) served as bounded Arrow reads — without it every
        # page is a Spark job on the request path (the measured
        # contention spiral under concurrent load)
        self.kv_transfer = kv_tier.KVTier(store, key_col="transaction")
        self.kv_transfer.counters = self.counters

    # ---- machinery ---------------------------------------------------
    def _get(self, key: str, fingerprint, loader, publish: bool = False):
        """The snapshot under ``key`` when fresh, reloading it when stale.
        A ``publish`` call (:meth:`refresh`) serves no request, so it
        counts only the reloads it does, never a hit or a fallback."""
        tally = collections.Counter() if publish else self.counters
        if not publish:
            self._read[key] = (fingerprint, loader)
        try:
            fp = fingerprint()
        except Exception:
            fp = None  # unit-fake stores without version plumbing
        if fp is None:
            tally[f"{key}_fallback"] += 1
            return None
        if publish:
            self._read.pop(key, None)  # wanted again once a request asks
        snap = self._snaps.get(key)
        if snap is not None and snap[0] == fp:
            tally[f"{key}_hit"] += 1
            return snap[1]
        with self._lock:
            snap = self._snaps.get(key)
            if snap is not None and snap[0] == fp:
                tally[f"{key}_hit"] += 1
                return snap[1]
            try:
                payload = loader()
            except Exception:
                payload = None  # damaged/foreign layout → Spark path
            if payload is None:
                tally[f"{key}_fallback"] += 1
            else:
                self.counters[f"{key}_reload"] += 1
                if publish:
                    self.counters["reload_on_publish"] += 1
            self._snaps[key] = (fp, payload)
            return payload

    def refresh(self) -> None:
        """Publish after a commit: revalidate each snapshot a request has
        asked for since the last publish that revalidated it, with the
        fingerprint and loader of the accessor that asked, so the reload
        a commit makes due runs on the caller's thread (the ingest loop's)
        and the next request hits. An entry no request has asked for is
        left unbuilt. One whose witness is not derivable yet (the rollup
        inside a deferred window) stays wanted for the publish after the
        tick that converges it. A request that finds a fingerprint moved
        after this still reloads inline, as before.

        A ``df:`` entry over a table the store reads without a declared
        schema would infer one with a Spark job; the caller submits none,
        so those stay with the request path."""
        for key, (fingerprint, loader) in list(self._read.items()):
            if key.startswith("df:") and not self.store._all_partitions(key[3:]):
                continue
            self._get(key, fingerprint, loader, publish=True)

    # ---- transfer pages ----------------------------------------------
    def transfers_page(self, tenant: str, currency, status, ranged: bool,
                       limit, offset: int, loader) -> list:
        """One transfers(...) page. A tenant + equality-filter shape reads
        the Arrow fact tier (:meth:`kv_transfers_page`, no Spark job); a
        range-filtered shape (``ranged``: month pruning lives in the Spark
        plan), or one the tier refuses, runs ``loader``, the Spark page.
        Nothing is kept between requests: every page is read from the
        committed table it was asked of."""
        if not ranged:
            rows = self.kv_transfers_page(
                tenant, currency=currency, status=status, limit=limit, offset=offset
            )
            if rows is not None:
                return rows
        return loader()

    def _bounded_files(self, name: str) -> list[str] | None:
        vdir = self.store._resolve(name)
        if vdir is None:
            return None
        files = _parquet_files(vdir)
        if _num_rows(files) > self.max_rows:
            return None  # too big for driver memory — Spark path serves
        return files

    # ---- tenant ------------------------------------------------------
    def tenant_names(self) -> list[str] | None:
        """All tenant names, sorted — the 25-row dimension."""

        def load():
            files = self._bounded_files("tenant")
            if files is None:
                return None
            vdir = self.store._resolve("tenant")
            return sorted(
                r[0] for r in _read_columns(files, ["name"], vdir, None)
            )

        return self._get(
            "tenant",
            lambda: balance_view.table_fingerprint(self.store, "tenant"),
            load,
        )

    # ---- account -----------------------------------------------------
    def accounts(self) -> dict | None:
        """{"by_key": {(tenant, name): (currency, format)},
        "by_tenant": {tenant: [(name, currency, format) sorted by name]}}"""

        def load():
            files = self._bounded_files("account")
            if files is None:
                return None
            vdir = self.store._resolve("account")
            rows = _read_columns(
                files, ["tenant", "name", "currency", "format"], vdir, "tenant"
            )
            by_key: dict = {}
            by_tenant: dict = {}
            for tenant, name, currency, fmt in rows:
                by_key[(tenant, name)] = (currency, fmt)
                by_tenant.setdefault(tenant, []).append((name, currency, fmt))
            for lst in by_tenant.values():
                lst.sort()  # name is the unique sort key (paginate contract)
            return {"by_key": by_key, "by_tenant": by_tenant}

        return self._get(
            "account",
            lambda: balance_view.table_fingerprint(self.store, "account"),
            load,
        )

    # ---- hot-table plan reuse -------------------------------------------
    def table_df(self, name: str):
        """Version-pinned REUSABLE DataFrame over a hot table — not a row
        snapshot (no driver memory, no max_rows bound): what it amortizes
        is Spark's per-DataFrame analysis and FILE-INDEX LISTING, which a
        fresh ``store.read`` per request pays every time.  On the
        ``(tenant, month)`` fact layout that listing is ~2100 hive dirs
        and measured ~5 s of DRIVER-side work per read at sf1 — and
        driver work serializes across concurrent requests, so per-request
        reads are the difference between sub-second and ~90 s p50 under
        32 clients.  Fingerprint semantics as everywhere: any table
        change rebuilds; a request between change and rebuild just pays
        the one-request price.  The transfer frame keeps the derived
        month column so the query layer can path-prune date-ranged pages
        (and drops it before output)."""

        def load():
            keep = name in getattr(self.store, "month_partitions", {})
            try:
                return self.store.read(name, keep_derived=keep)
            except TypeError:  # unit-fake stores without the kwarg
                return self.store.read(name)

        return self._get(
            f"df:{name}",
            lambda: balance_view.table_fingerprint(self.store, name),
            load,
        )

    def transfers_df(self):
        return self.table_df("transfer")

    # ---- balance rollup ----------------------------------------------
    def balances(self) -> dict | None:
        """{(tenant, name): Decimal} — quantized to MONEY_SUM's 2 dp with
        HALF_UP, matching Spark's decimal cast in the direct aggregate;
        nn == 0 groups serve 0.00 (coalesce semantics).  Fresh ONLY when
        the rollup's state file matches the change table's and rollup's
        live fingerprints (the balance_view.freshness_token contract,
        checked without Spark)."""

        def load():
            files = self._bounded_files(balance_view.ROLLUP_TABLE)
            if files is None:
                return None
            vdir = self.store._resolve(balance_view.ROLLUP_TABLE)
            # tenant is a hive partition dir when the store declares it
            pcol = (
                "tenant"
                if self.store.partitions.get(balance_view.ROLLUP_TABLE)
                else None
            )
            out: dict = {}
            for tenant, name, nn, s in _read_columns(
                files, ["tenant", "name", "nn_amount", "sum_amount"], vdir, pcol
            ):
                if nn == 0 or s is None:
                    out[(tenant, name)] = _ZERO
                else:
                    out[(tenant, name)] = decimal.Decimal(s).quantize(
                        _TWO_DP, rounding=decimal.ROUND_HALF_UP
                    )
            return out

        return self._get(
            "balance_rollup",
            lambda: balance_view.freshness_token(self.store),
            load,
        )

    # ---- KV tier (past the snapshot memory bound) ----------------------
    # Each method takes an optional ``pinned`` fingerprint/token: a
    # per-request caller (WarehouseContext) captures the witness at its
    # FIRST KV use and passes it on every later one — if the live value
    # has moved mid-request (a 2 s ingest tick landing between two
    # resolver batches), the KV path refuses and the caller's memoized
    # Spark tables serve one consistent version: no torn reads.
    def kv_account_details(self, keys: list, pinned: str | None = None) -> dict | None:
        """{(tenant, name): (currency, format)} via row-group-pruned point
        reads — the account-detail path when the snapshot refused the
        table.  None on any freshness doubt (caller → Spark)."""
        try:
            fp = balance_view.table_fingerprint(self.store, "account")
        except Exception:
            return None
        if pinned is not None and fp != pinned:
            return None  # table moved mid-request — torn-read guard
        hit = self.kv.lookup("account", fp, keys, ["currency", "format"])
        if hit is None:
            return None
        return {k: (v["currency"], v["format"]) for k, v in hit.items()}

    def kv_balances(self, keys: list, pinned: str | None = None) -> dict | None:
        """{(tenant, name): Decimal} — FRESH balances from the KV tier.

        Fresh rollup: row-group-pruned point reads under the freshness
        token (same contract as the snapshot). Stale-but-append-only
        window (the (abc commit → rollup maintained) gap every ingest
        tick opens): maintained rollup + exact Arrow delta over the
        appended files (balance_view.stale_window) — values identical to
        the direct Spark SUM, still zero Spark jobs. Any other staleness
        (mid-rewrite rollup, compaction swap) → None (Spark path).
        ``pinned`` compares against balance_view.serving_token — a tick
        landing mid-request flips the token and the tier refuses."""
        try:
            token = balance_view.freshness_token(self.store)
        except Exception:
            return None
        if token is not None and (pinned is None or token == pinned):
            hit = self.kv.lookup(
                balance_view.ROLLUP_TABLE, token, keys, ["nn_amount", "sum_amount"]
            )
            if hit is None:
                return None
            return {
                k: kv_tier.KVTier.quantize_balance(v["nn_amount"], v["sum_amount"])
                for k, v in hit.items()
            }
        win = None
        served_pinned = False
        if token is None:
            try:
                win = balance_view.stale_window(self.store)
            except Exception:
                win = None
            if win is not None and pinned is not None and win[0] != pinned:
                win = None  # live window moved past the pin
        if win is None and pinned is not None:
            # TORN pin: an ingest tick adopted files (or converged the
            # rollup) mid-request.  Serve the request its exact PINNED
            # state from the window-token history — the window's inputs
            # are immutable, so this is snapshot isolation, precisely the
            # read the reference's Postgres MVCC gives during a
            # concurrent ingest transaction.  Pre-r11 this returned None
            # and EVERY balance request in flight across a contended 9 s
            # merge tick fell back to the Spark path (the measured
            # fixture→queryable tail).
            hist = balance_view.window_for_token(self.store, pinned)
            if hist is None:
                return None
            try:
                live_fp = balance_view.table_fingerprint(
                    self.store, balance_view.ROLLUP_TABLE
                )
            except Exception:
                return None
            if hist[0] != live_fp:
                # the rollup itself converged past the pin — the KV index
                # under the pinned fp could silently rebuild over the NEW
                # files (kv_tier._build_index labels whatever is live), so
                # refuse and let the rare converge-spanning request take
                # the Spark path
                return None
            win = (pinned, hist[0], hist[1])
            served_pinned = True
        if win is None:
            return None
        win_token, rollup_fp, new_paths = win
        base = self.kv.lookup(
            balance_view.ROLLUP_TABLE, rollup_fp, keys, ["nn_amount", "sum_amount"]
        )
        if base is None:
            return None
        delta = self.kv.delta_sums(new_paths, keys, "amount")
        if delta is None:
            return None
        out: dict = {}
        for k in set(base) | set(delta):
            b = base.get(k)
            nn = (b["nn_amount"] if b else 0) or 0
            s = (b["sum_amount"] if b else None) or decimal.Decimal(0)
            dn, ds = delta.get(k, (0, decimal.Decimal(0)))
            out[k] = kv_tier.KVTier.quantize_balance(nn + dn, s + ds)
        self.counters[
            "kv_balance_window_pinned" if served_pinned else "kv_balance_window"
        ] += 1
        return out

    def kv_transfers_page(
        self,
        tenant: str,
        currency: str | None = None,
        status: int | None = None,
        limit: int | None = 100,
        offset: int = 0,
    ) -> list | None:
        """One transfers(...) page via bounded Arrow reads (KVTier.
        sorted_page) — the request path stays Spark-free across ingest
        ticks. Supports the tenant + eq-filter shapes; range-filtered
        shapes return None (Spark path, where month pruning lives).
        Fingerprint-pinned like every tier."""
        try:
            fp = balance_view.table_fingerprint(self.store, "transfer")
        except Exception:
            return None
        if fp is None:
            return None
        eq: dict = {}
        if currency is not None:
            eq["currency"] = currency
        if status is not None:
            eq["status"] = status
        return self.kv_transfer.sorted_page(
            "transfer",
            fp,
            tenant,
            ["transaction", "transfer"],
            [
                "transaction", "transfer", "status",
                "credit_tenant", "credit_name",
                "debit_tenant", "debit_name",
                "amount", "currency", "value_date",
            ],
            eq_filters=eq,
            limit=limit,
            offset=offset,
            max_page_rows=self.max_page_rows,
        )

    def kv_accounts_page(
        self,
        tenant: str,
        currency: str | None = None,
        format: str | None = None,  # noqa: A002 — GraphQL arg name
        limit: int | None = 100,
        offset: int = 0,
        pinned: str | None = None,
    ) -> list | None:
        """One PAGE of a tenant's [(name, currency, format)] ordered by
        name — the accounts-page source past the snapshot bound.  The
        tenant's rows are materialized once per fingerprint epoch as a
        sorted Arrow table (LRU-bounded); filters and OFFSET/LIMIT slice
        Arrow-side, so only ≤ limit rows ever become Python objects."""
        try:
            fp = balance_view.table_fingerprint(self.store, "account")
        except Exception:
            return None
        if pinned is not None and fp != pinned:
            return None  # table moved mid-request — torn-read guard
        return self.kv.tenant_page(
            "account",
            fp,
            tenant,
            ["name", "currency", "format"],
            {"currency": currency, "format": format},
            limit,
            offset,
        )
